"""corpus_curation: one full LLM-data-prep pass per round.

The round runs ``run_corpus_pipeline`` (normalize, quality_filter,
dedup_exact, dedup_minhash, semantic_dedup, tokenize) into
``write_training_shards``, then the ``gopher_quality``,
``gopher_repetition`` and ``c4_quality`` filters over the raw corpus.
A round ends with one index tick of the recrawl change stream
(``changes.ChangeStream.index_tick``): the next batch probed against,
then appended to, a persisted dedup index. The corpus carries planted
exact and near duplicates; the check requires every planted exact
duplicate to be gone and reports near-duplicate recall against the
plant. Every planted copy in a batch must be dropped by the index probe.
"""

from __future__ import annotations

import os
import time

import gen
from changes import ChangeStream
from spans import add_counters, scale_counters, sub_counters, zero_counters
from workload import Ctx, Op, Workload, dir_bytes, inclusive, materialize, run_op

CORPUS = gen.CorpusPlan(docs=2_000, exact_groups=75, near_groups=75)
WARM = gen.CorpusPlan(docs=100, exact_groups=4, near_groups=4)

STAGES = (
    {"stage": "normalize", "form": "NFKC"},
    {"stage": "quality_filter", "min_tokens": 20},
    {"stage": "dedup_exact"},
    {"stage": "dedup_minhash", "threshold": 0.7},
    {"stage": "semantic_dedup", "id_col": "doc_id", "vec_col": "embedding",
     "n_clusters": 16, "threshold": 0.97},
    {"stage": "tokenize", "top_k": 5000},
)
# (stages in the prefix, layer): a layer's self part is its prefix minus
# the one before (normalize + quality_filter, the two dedups, semantic
# dedup, tokenize)
PREFIXES = ((2, "text"), (4, "dedup"), (5, "similarity"), (6, "rank"))
TEXT_OPS = ("gopher_quality", "gopher_repetition", "c4_quality")
SHARDS = 8


class CorpusCuration(Workload):
    name = "corpus_curation"

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.plant: dict = {}
        self.n_round = 0
        self.stream = ChangeStream(seed, self.data, "crawl")

    def generate(self) -> dict:
        self.plant = gen.write_corpus(os.path.join(self.data, "corpus", "docs.parquet"),
                                      self.seed, CORPUS)
        gen.write_corpus(os.path.join(self.work, "warm", "corpus", "docs.parquet"),
                         self.seed + 1, WARM)
        return {"docs": CORPUS.docs, "exact_groups": CORPUS.exact_groups,
                "near_groups": CORPUS.near_groups, "dim": CORPUS.dim,
                "stream": self.stream.generate()}

    def round_rows(self) -> int:
        return CORPUS.docs * (1 + len(TEXT_OPS)) + self.stream.batches[0]["rows"]

    def setup(self, ctx: Ctx) -> None:
        from etl_cli_spark import Engine

        # warm-up: one pass over a small corpus of the same shape
        t = time.perf_counter()
        warm = Engine(ctx.spark, os.path.join(self.work, "warm"))
        self._pass(ctx, warm, os.path.join(self.work, "warm_shards"), check=False)
        t1 = time.perf_counter()
        self.engine = Engine(ctx.spark, ctx.data)
        self.stream.setup_index(ctx, self.engine)
        t2 = time.perf_counter()
        self.stream.index_tick(ctx)  # warm-up of the index path
        self.setup_parts = {"warm_pass": t1 - t, "build_index": t2 - t1,
                            "warm_tick": time.perf_counter() - t2}

    def _pass(self, ctx: Ctx, engine, shard_path: str, check: bool = True) -> list[Op]:
        from etl_cli_spark.operators import text
        from etl_cli_spark.operators.pipeline import write_training_shards
        from etl_cli_spark.plans.corpus import run_corpus_pipeline

        tr = ctx.tracer
        docs = engine.read("corpus/docs")
        ops = []

        def curate():
            curated = run_corpus_pipeline(docs, STAGES)
            index = write_training_shards(curated, shard_path, budget=2048, n_shards=SHARDS,
                                          columns=["lang", "token_ids"])
            tr.check_leaks(f"curate-{self.n_round}")
            if check:
                return self._shard_ids(ctx, shard_path, index)
            return None

        ops.append(run_op(ctx, "curate", curate))
        for op_name in TEXT_OPS:
            fn = getattr(text, op_name)

            def run_text(fn=fn, op_name=op_name):
                _, _, rows = materialize(ctx, f"text.{op_name}", "text", lambda: fn(docs))
                tr.check_leaks(f"{op_name}-{self.n_round}")
                return {"rows": rows}

            ops.append(run_op(ctx, op_name, run_text))
        return ops

    def _shard_ids(self, ctx: Ctx, shard_path: str, index: dict) -> dict:
        """Doc ids of the written shards, read back with pyarrow."""
        import pyarrow.dataset as ds

        ids = ds.dataset(os.path.join(shard_path, "data"), format="parquet",
                         partitioning="hive").to_table(columns=["doc_id"])["doc_id"].to_pylist()
        files, nbytes = dir_bytes(shard_path)
        indexed = sum(s["docs"] for s in index["shards"].values())
        return {"ids": ids, "indexed_docs": indexed, "shard_files": files, "shard_bytes": nbytes}

    def round(self, ctx: Ctx) -> list[Op]:
        self.n_round += 1
        ops = self._pass(ctx, self.engine, os.path.join(self.work, "shards"))
        return ops + [self.stream.index_tick(ctx)]

    def verify(self, ctx: Ctx, ops: list[Op]) -> list[str]:
        bad = []
        self.recall = []
        self._shard_bytes = 0
        for op in ops:
            if not op.ok or op.name == "dedup_index":
                continue
            why = None
            if op.name == "curate":
                why, exact, near = check_curated(op.check, self.plant)
                self.recall.append((exact, near))
                self._shard_bytes = op.check["shard_bytes"]
            elif op.check["rows"] != CORPUS.docs:
                why = f"{op.check['rows']} rows out of {CORPUS.docs} docs"
            if why:
                op.ok, op.error = False, why
                bad.append(f"{op.name}: {why}")
        return bad + self.stream.verify_index(ops)

    def amplification(self, ctx: Ctx) -> tuple[float, float]:
        """Shard bytes over the kept rows written once by pyarrow."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        shards = os.path.join(self.work, "shards")
        t = ds.dataset(os.path.join(shards, "data"), format="parquet",
                       partitioning="hive").to_table()
        probe = os.path.join(self.work, "amp.parquet")
        pq.write_table(t, probe, compression="zstd")
        files, nbytes = dir_bytes(shards)
        data_bytes = dir_bytes(os.path.join(shards, "data"))[1]
        compact = os.path.getsize(probe)
        return nbytes / compact, data_bytes / compact

    # -- traced run ---------------------------------------------------------
    def install_spans(self, tracer) -> None:
        pass  # every call is made from this module, inside its own span

    def layer_pass(self, ctx: Ctx) -> dict:
        from etl_cli_spark.plans.corpus import run_corpus_pipeline

        docs = self.engine.read("corpus/docs")
        ctx.tracer.op_id = "prefix"
        out = []
        for n, layer in PREFIXES:
            t, rec, _ = materialize(ctx, f"prefix.{layer}", layer,
                                    lambda n=n: run_corpus_pipeline(docs, STAGES[:n]))
            out.append({"t": t, "span": rec})
            ctx.tracer.check_leaks(f"prefix-{layer}")
        return {"prefixes": out}

    def layer_metrics(self, ctx: Ctx, ops: list[Op], lp: dict) -> tuple[dict, dict]:
        tr = ctx.tracer
        pre = lp["prefixes"]
        inc = [inclusive(tr, p["span"]) for p in pre]
        own = [sub_counters(c, inc[i - 1]) if i else c for i, c in enumerate(inc)]
        own_s = [max(0.0, p["t"] - (pre[i - 1]["t"] if i else 0.0)) for i, p in enumerate(pre)]
        vals = {
            "text.normalize_quality.self_s": own_s[0],
            "text.normalize_quality.core_util": inc[0]["run_s"] / max(1e-9, own_s[0] * ctx.cores),
            "text.normalize_quality.dominant_stage_tasks": inc[0]["dominant_stage_tasks"],
            "dedup.self_s": own_s[1],
            "dedup.shuffle_bytes": own[1]["shuffle_write_bytes"],
            "similarity.self_s": own_s[2],
            "similarity.shuffle_bytes": own[2]["shuffle_write_bytes"],
            "rank.self_s": own_s[3],
        }
        traced = [s for s in tr.spans if s["op"] != "prefix"]
        for op_name in TEXT_OPS:
            spans = [s for s in traced if s["name"] == f"text.{op_name}"]
            wall = sum(s["end"] - s["start"] for s in spans) / max(1, len(spans))
            c = [inclusive(tr, s) for s in spans]
            run_s = sum(x["run_s"] for x in c) / max(1, len(c))
            vals[f"text.{op_name}.self_s"] = wall
            vals[f"text.{op_name}.core_util"] = run_s / max(1e-9, wall * ctx.cores)
            vals[f"text.{op_name}.dominant_stage_tasks"] = max(
                (x["dominant_stage_tasks"] for x in c), default=0)
        vals["text.self_s"] = own_s[0] + sum(vals[f"text.{o}.self_s"] for o in TEXT_OPS)
        curates = [s for s in traced if s["name"] == "op.curate"]
        rounds = max(1, len(curates))
        curate_s = sum(s["end"] - s["start"] for s in curates) / rounds
        vals["pipeline.shard_write_s"] = max(0.0, curate_s - pre[-1]["t"])
        vals["pipeline.shard_bytes"] = self._shard_bytes
        vals["dedup.planted_exact_recall"] = min((r[0] for r in self.recall), default=0.0)
        vals["dedup.planted_near_recall"] = min((r[1] for r in self.recall), default=0.0)
        vals.update(self.stream.index_metrics(ctx))
        curate = zero_counters()
        for s in curates:
            curate = add_counters(curate, inclusive(tr, s))
        # the text filters' own spans are counted by layer already; the
        # curate op's work splits by prefix into text, dedup, similarity
        # and rank, and the rest (packing, shard write) is pipeline
        lazy = {"text": own[0], "dedup": own[1], "similarity": own[2], "rank": own[3],
                "pipeline": sub_counters(scale_counters(curate, 1 / rounds), inc[-1])}
        return vals, lazy


def check_curated(out: dict, plant: dict) -> tuple[str | None, float, float]:
    """(reason or None, exact recall, near recall) of one curated output.

    Every planted copy (each group member but the lowest id, which the
    keep-lowest-id dedup policy keeps) must be gone for exact groups;
    for near groups the share that is gone is the reported recall. The
    shard index must count each kept doc once."""
    ids = out["ids"]
    kept = set(ids)
    if len(kept) != len(ids):
        return f"{len(ids) - len(kept)} doc ids written twice", 0.0, 0.0
    if out["indexed_docs"] != len(ids):
        return f"shard index counts {out['indexed_docs']} docs, data holds {len(ids)}", 0.0, 0.0

    def recall(groups):
        copies = [m for g in groups for m in g[1:]]
        return sum(m not in kept for m in copies) / max(1, len(copies))

    exact, near = recall(plant["exact_groups"]), recall(plant["near_groups"])
    if exact < 1.0:
        return f"planted exact duplicates kept (recall {exact:.4f})", exact, near
    return None, exact, near
