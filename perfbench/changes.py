"""A recrawl change stream and the two tick kinds that consume it.

The stream (``gen.write_change_stream``) is an initial document load plus
small change batches (upsert, update, delete, insert; keys skewed towards
recent documents; a tenth of each batch are verbatim copies of initial
documents).

- A *commit tick* applies the next batch through ``Engine.run`` to two
  manifest targets, a pk-bucketed one and a plain-layout one, then reads
  beside the writes: a pk point read on each target, a
  ``changefeed_merge`` drain into a downstream table, and every third
  tick a time-travel read. The final tables are checked against a
  DuckDB replay of the applied batches. ``etl_jobs`` runs these.
- An *index tick* probes the next batch's documents against a persisted
  dedup index over the initial load (``dedup_against_index``), then
  appends their signatures (``append_dedup_signatures``). Every planted
  copy must be dropped. ``corpus_curation`` runs these.
"""

from __future__ import annotations

import os

import gen
from check import compare
from workload import Ctx, Op, dir_bytes, inclusive, run_op

# 60 batches last about ten minutes of etl_jobs rounds
STREAM = gen.StreamPlan(initial=5_000, batches=60, batch_rows=100)
PROJECTION = ("doc_id", "url", "lang", "rev")
TRAVEL_EVERY = 3
# sized for the table: one bucket / index part holds ~1k rows
N_BUCKETS = 4
INDEX_PARTS = 4
TARGETS = ("bucketed", "plain")


def _project(df):
    return df.select(*PROJECTION)


class ChangeStream:
    def __init__(self, seed: int, data: str, ns: str):
        self.seed = seed
        self.data = data
        self.ns = ns
        self.dir = os.path.join(data, "stream")
        self.batches: list[dict] = []

    def generate(self) -> dict:
        self.batches = gen.write_change_stream(self.dir, self.seed, STREAM)
        return {"initial": STREAM.initial, "batches": STREAM.batches,
                "batch_rows": STREAM.batch_rows, "cycle": list(gen.STREAM_CYCLE)}

    def path(self, name: str) -> str:
        return os.path.join(self.data, self.ns, f"{name}.parquet")

    def _batch(self, i: int) -> dict:
        if i >= len(self.batches):
            raise RuntimeError(f"change stream exhausted after {len(self.batches)} batches")
        return self.batches[i]

    def _batch_rows(self, i: int) -> list[dict]:
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.dir, f"b{i:05d}.parquet")).to_pylist()

    # -- commit ticks ---------------------------------------------------------
    def setup_commits(self, ctx: Ctx, engine) -> None:
        """Both targets from the initial load and the downstream's first drain."""
        import pyarrow.parquet as pq
        from etl_cli_spark import make_spec
        from etl_cli_spark.operators.writeops import ParquetTable
        from etl_cli_spark.streaming.incremental import changefeed_merge

        self.engine = engine
        engine.run(make_spec("stream/initial", target=f"{self.ns}/bucketed", op="create",
                             pk="doc_id", n_buckets=N_BUCKETS, manifest=True))
        ParquetTable(ctx.spark, self.path("plain"), manifest=True).append(
            engine.read("stream/initial"))
        self.up = ParquetTable(ctx.spark, self.path("bucketed"), manifest=True)
        self.down = ParquetTable(ctx.spark, self.path("down"), manifest=True)
        changefeed_merge(ctx.spark, self.up, self.down, pk=("doc_id",), transform=_project)
        self.state = {r["doc_id"]: r for r in pq.read_table(
            os.path.join(self.dir, "initial.parquet")).to_pylist()}
        self.history: list[tuple[int, int]] = [(self.up.versions()[-1], len(self.state))]
        self.applied: list[int] = []
        self.next_commit = 0

    def _target_bytes(self) -> int:
        return sum(dir_bytes(self.path(t))[1] for t in TARGETS)

    def mark(self) -> None:
        """Start of the measured loop: amplification counts from here."""
        self.bytes0 = self._target_bytes()
        self.measured_from = len(self.applied)

    def _apply_expected(self, op: str, rows: list[dict]) -> None:
        for r in rows:
            k = r["doc_id"]
            if op == "delete":
                self.state.pop(k, None)
            elif op == "update":
                if k in self.state:
                    self.state[k] = r
            elif op == "insert":
                self.state.setdefault(k, r)
            else:
                self.state[k] = r

    def commit_tick(self, ctx: Ctx) -> Op:
        from etl_cli_spark import make_spec
        from etl_cli_spark.streaming.incremental import changefeed_merge

        i = self.next_commit
        self.next_commit += 1
        op = self._batch(i)["op"]
        rows = self._batch_rows(i)
        probe_key = rows[0]["doc_id"]
        tr = ctx.tracer
        tr.op_id = f"tick-{i}"

        def go():
            for tgt in TARGETS:
                spec = make_spec(f"stream/b{i:05d}", target=f"{self.ns}/{tgt}", op=op,
                                 pk="doc_id", manifest=True, msg=f"tick-{i}")
                before = dir_bytes(self.path(tgt)) if tr.enabled else (0, 0)
                with tr.span(f"writeops.commit.{tgt}", "writeops") as rec:
                    self.engine.run(spec)
                if tr.enabled:
                    after = dir_bytes(self.path(tgt))
                    rec["files_written"] = after[0] - before[0]
                    rec["bytes_written"] = after[1] - before[1]
            self._apply_expected(op, rows)
            self.applied.append(i)
            want = self.state.get(probe_key)
            for tgt in TARGETS:
                with tr.span(f"sources.point_read.{tgt}", "sources"):
                    got = [r.asDict() for r in self.engine.read(
                        f"{self.ns}/{tgt}", [f"doc_id={probe_key}"]).collect()]
                if got != ([want] if want is not None else []):
                    raise AssertionError(f"point read of {probe_key} on {tgt}: {got} != {want}")
            with tr.span("streaming.drain", "streaming") as rec:
                stats = changefeed_merge(ctx.spark, self.up, self.down, pk=("doc_id",),
                                         transform=_project)
            rec["versions_applied"] = stats.versions_applied
            self.history.append((self.up.versions()[-1], len(self.state)))
            if i % TRAVEL_EVERY == 0:
                self.time_travel(ctx)
            tr.check_leaks(f"tick-{i}")

        return run_op(ctx, f"tick_{op}", go)

    def time_travel(self, ctx: Ctx) -> None:
        """Read the bucketed target as of ``TRAVEL_EVERY`` commits ago."""
        v, n = self.history[max(0, len(self.history) - 1 - TRAVEL_EVERY)]
        with ctx.tracer.span("commitlog.snapshot_read", "commitlog"):
            got = self.up.read_version(v).count()
        if got != n:
            raise AssertionError(f"time travel to v{v}: {got} rows, want {n}")

    def verify_commits(self, ctx: Ctx, ops: list[Op]) -> list[str]:
        """Final bucketed, plain and downstream tables against a DuckDB
        replay; a mismatch fails every commit tick that built them."""
        import duckdb

        con = duckdb.connect()
        want = replay(con, self.dir, self.batches, self.applied)
        self._live = {}
        bad = []
        for tgt in (*TARGETS, "down"):
            got = self.engine.read(f"{self.ns}/{tgt}").toArrow()
            self._live[tgt] = got
            con.register(f"got_{tgt}", got)
            cols = ", ".join(PROJECTION) if tgt == "down" else "*"
            why = compare(con, f"SELECT * FROM got_{tgt}", f"SELECT {cols} FROM {want}")
            if why:
                bad.append(f"final {tgt} table: {why}")
        con.close()
        if bad:
            for op in ops:
                if op.name.startswith("tick_"):
                    op.ok, op.error = False, bad[0]
        return bad

    def amplification(self) -> tuple[float, float]:
        """write_amp: bytes the measured ticks wrote under both target
        roots over the applied batches' bytes (once per target).
        space_amp: bytes of the files the live snapshots reference over
        the live rows written once by pyarrow."""
        import pyarrow.parquet as pq

        user = 2 * sum(os.path.getsize(os.path.join(self.dir, f"b{i:05d}.parquet"))
                       for i in self.applied[self.measured_from:])
        written = self._target_bytes() - self.bytes0
        live = compact = 0
        probe = os.path.join(self.data, "amp.parquet")
        for tgt in TARGETS:
            files = self.engine.read(f"{self.ns}/{tgt}").inputFiles()
            live += sum(os.path.getsize(f.removeprefix("file:")) for f in files)
            pq.write_table(self._live[tgt], probe, compression="zstd")
            compact += os.path.getsize(probe)
        os.remove(probe)
        return written / max(1, user), live / max(1, compact)

    def commit_metrics(self, ctx: Ctx) -> dict[str, float]:
        tr = ctx.tracer
        spans = [s for s in tr.spans if s["end"] is not None]
        named = lambda prefix: [s for s in spans if s["name"].startswith(prefix)]  # noqa: E731
        commits = named("writeops.commit.")
        cinc = [inclusive(tr, s) for s in commits]
        n = max(1, len(commits))
        drains = named("streaming.drain")
        dinc = [inclusive(tr, s) for s in drains]
        reads = named("sources.point_read")
        rinc = [inclusive(tr, s) for s in reads]
        log_bytes = dir_bytes(os.path.join(self.path("bucketed"), "_log"))[1]
        files_now = sum(len(self.engine.read(f"{self.ns}/{t}").inputFiles()) for t in TARGETS)
        return {
            "sources.point_read_s": _mean_s(reads),
            "sources.point_read_bytes": sum(c["input_bytes"] for c in rinc) / max(1, len(rinc)),
            "writeops.commit_s": _mean_s(commits),
            "writeops.jobs_per_commit": sum(c["jobs"] for c in cinc) / n,
            "writeops.tasks_per_commit": sum(c["tasks"] for c in cinc) / n,
            "writeops.files_written_per_commit": sum(s["files_written"] for s in commits) / n,
            "writeops.bytes_written_per_commit": sum(s["bytes_written"] for s in commits) / n,
            "writeops.rewrite_core_util": sum(c["run_s"] for c in cinc)
            / max(1e-9, sum(s["end"] - s["start"] for s in commits) * ctx.cores),
            "writeops.table_files": files_now,
            "writeops.table_files_per_commit": files_now / max(1, 2 * len(self.applied)),
            "commitlog.versions": len(self.up.versions()),
            "commitlog.log_bytes": log_bytes,
            "commitlog.snapshot_read_s": _mean_s(named("commitlog.snapshot_read")),
            "streaming.drain_s": _mean_s(drains),
            "streaming.drain_jobs": sum(c["jobs"] for c in dinc) / max(1, len(dinc)),
            "streaming.versions_applied": sum(s["versions_applied"] for s in drains),
        }

    # -- index ticks ----------------------------------------------------------
    def setup_index(self, ctx: Ctx, engine) -> None:
        from etl_cli_spark.operators.dedup import build_dedup_index

        self.engine = engine
        build_dedup_index(engine.read("stream/initial").select("doc_id", "text"),
                          self.path("dedup_index"), n_parts=INDEX_PARTS)
        self.next_index = 0

    def index_tick(self, ctx: Ctx) -> Op:
        from etl_cli_spark.operators.dedup import append_dedup_signatures, dedup_against_index

        i = self.next_index
        self.next_index += 1
        b = self._batch(i)
        tr = ctx.tracer
        index = self.path("dedup_index")

        def go():
            docs = self.engine.read(f"stream/b{i:05d}").select("doc_id", "text")
            with tr.span("dedup.index_probe", "dedup"):
                kept = dedup_against_index(docs, index).count()
            with tr.span("dedup.index_append", "dedup"):
                append_dedup_signatures(docs, index)
            tr.check_leaks(f"index-{i}")
            return {"kept": kept, "rows": b["rows"], "planted": b["planted_copies"]}

        return run_op(ctx, "dedup_index", go)

    @staticmethod
    def verify_index(ops: list[Op]) -> list[str]:
        """Every batch carries planted copies of indexed documents, which
        the probe must drop."""
        bad = []
        for op in ops:
            if op.ok and op.name == "dedup_index" and \
                    op.check["kept"] > op.check["rows"] - op.check["planted"]:
                op.ok, op.error = False, "dedup index kept a planted copy"
                bad.append(f"{op.name}: {op.error}")
        return bad

    @staticmethod
    def index_metrics(ctx: Ctx) -> dict[str, float]:
        spans = ctx.tracer.spans
        return {
            "dedup.index_probe_s": _mean_s([s for s in spans if s["name"] == "dedup.index_probe"]),
            "dedup.index_append_s": _mean_s([s for s in spans
                                             if s["name"] == "dedup.index_append"]),
        }


def _mean_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans) / max(1, len(spans))


def replay(con, stream: str, batches: list[dict], applied: list[int]) -> str:
    """Apply the initial load and the applied batches in DuckDB; returns
    the name of the resulting table."""
    con.sql(f"CREATE TABLE want AS SELECT * FROM read_parquet('{stream}/initial.parquet')")
    for i in applied:
        op = batches[i]["op"]
        con.sql(f"CREATE OR REPLACE TEMP VIEW b AS "
                f"SELECT * FROM read_parquet('{stream}/b{i:05d}.parquet')")
        if op in ("upsert", "delete"):
            con.sql("DELETE FROM want WHERE doc_id IN (SELECT doc_id FROM b)")
        if op == "upsert":
            con.sql("INSERT INTO want SELECT * FROM b")
        elif op == "update":
            con.sql("CREATE OR REPLACE TEMP TABLE hit AS "
                    "SELECT * FROM b WHERE doc_id IN (SELECT doc_id FROM want)")
            con.sql("DELETE FROM want WHERE doc_id IN (SELECT doc_id FROM hit)")
            con.sql("INSERT INTO want SELECT * FROM hit")
        elif op == "insert":
            con.sql("INSERT INTO want SELECT * FROM b WHERE doc_id NOT IN (SELECT doc_id FROM want)")
    return "want"
