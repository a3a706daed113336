"""Adversarial-skew stress: per-stage task-time spread on hot-key fixtures.

Builds skewed fixtures at the given scale (30% of rows on ONE key — hot
LSH bucket / hot domain / hot join key, the VERDICT round-6 shape), runs
each operator, and pulls per-stage task runtime distributions from the
Spark status REST API. The pass signal for a MITIGATED path is that no
substantial stage has a max task > 2x the stage's mean task (the
straggler that would define wall-clock on a 1000-executor cluster).
Unmitigated contrast rows are included on purpose — they demonstrate
the hazard is real, not that the fixture is too easy.

    python scripts/skew_stress.py [sf_dir] [hot_share] [factor]

``factor`` replicates the documents table (ids offset, cold text
perturbed) before skewing it — sf0.1 alone runs each op sub-second on
local[32], below the spread metric's noise floor.

Writes nothing outside /tmp; prints a markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

# a stage only counts toward the spread verdict if it is big enough to
# mean anything: tiny stages are all JIT/scheduling jitter
MIN_TASKS = 8
MIN_STAGE_MS = 500      # total executor run time
MIN_MAX_TASK_MS = 500   # a 200ms "straggler" is noise, not skew
# a FAIL needs both: >2x the stage mean AND >1s absolute excess — on
# local[32] sub-second tasks swing 2-3x from JIT/GC alone; real key
# skew shows up as a task seconds beyond its peers (and grows with
# data, which the jitter doesn't)
MIN_EXCESS_MS = 1000


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


class StageSpread:
    """Spark status REST client: task-runtime spread of stages run
    between mark() and collect()."""

    def __init__(self, spark):
        self.base = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}"
        self.marker = -1

    def mark(self):
        stages = _get(f"{self.base}/stages?status=complete")
        self.marker = max((s["stageId"] for s in stages), default=-1)

    def collect(self):
        """[(stage_id, name, n_tasks, mean_ms, max_ms, ratio)] for
        substantial stages since the last mark()."""
        out = []
        for s in _get(f"{self.base}/stages?status=complete"):
            if s["stageId"] <= self.marker or s["numCompleteTasks"] < MIN_TASKS:
                continue
            total = s.get("executorRunTime", 0)
            if total < MIN_STAGE_MS:
                continue
            q = _get(
                f"{self.base}/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.0,0.5,1.0"
            )
            run = q.get("executorRunTime", [0, 0, 0])
            n = s["numCompleteTasks"]
            mean = total / n
            mx = run[-1]
            out.append((s["stageId"], s["name"].split("\n")[0][:40], n, mean, mx,
                        mx / max(mean, 1e-9)))
        return out


def build_fixtures(spark, sf_dir: str, hot_share: float, factor: int = 1):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang", "n_chars")
    if factor > 1:
        import tempfile

        n0 = d.count()
        parts = [d]
        for i in range(1, factor):
            parts.append(
                d.withColumn("doc_id", F.col("doc_id") + F.lit(i * n0)).withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" copy{i}"))
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        tmp = tempfile.mkdtemp(prefix="etl_skewfix_")
        out.write.parquet(f"{tmp}/docs.parquet")
        d = spark.read.parquet(f"{tmp}/docs.parquet")
    n = d.count()
    n_hot = int(n * hot_share)
    # hot LSH bucket: hot docs share IDENTICAL text -> one degenerate
    # bucket per band holding hot_share of the corpus
    hot_text = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % round(1 / hot_share) == 0,
            F.lit("the quick brown fox jumps over the lazy dog again and again and again today"),
        ).otherwise(F.col("text")),
    )
    # hot domain: hot_share of urls on one domain
    urls = d.withColumn(
        "url",
        F.when(
            F.col("doc_id") % round(1 / hot_share) == 0,
            F.concat(F.lit("https://hot.example.com/p/"), F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(
                F.lit("https://site"), (F.col("doc_id") % 2000).cast("string"),
                F.lit(".example.org/p/"), F.col("doc_id").cast("string"),
            )
        ),
    )
    return n, n_hot, hot_text, urls


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    hot_share = float(sys.argv[2]) if len(sys.argv) > 2 else 0.3
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from etl_cli_spark.session import get_spark

    spark = get_spark(
        app_name="skew-stress",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4055"},
    )
    n, n_hot, hot_text, urls = build_fixtures(spark, sf, hot_share, factor)
    print(f"corpus: {n} docs, hot key holds {n_hot} ({hot_share:.0%})\n")

    from etl_cli_spark.operators.dedup import exact_text_dedup, minhash_lsh_pairs
    from etl_cli_spark.operators.pipeline import epoch_shuffle, weighted_sample
    from etl_cli_spark.operators.skew import salted_join
    from etl_cli_spark.operators.urls import per_domain_cap

    # moderate fixture for the capped-vs-uncapped CONTRAST pair: 2500
    # of the base table's 5000 docs in one bucket is small enough that
    # the uncapped clique (3.1M pairs on 16 reducer keys — far below
    # AQE's 256MB skew threshold, the sub-threshold-but-hot regime)
    # actually finishes, and big enough that the quadratic work shows
    # next to the capped run on the SAME input.
    # Built from the BASE table (not a filter over the replicated
    # corpus, which would leave all surviving rows in a couple of
    # parquet splits and fake a map-stage imbalance), repartitioned so
    # input splits are balanced — the skew under test is the KEY, not
    # the file layout
    mod_text = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text", "lang", "n_chars")
        .repartition(32)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") < 2500,
                F.lit("shared adversarial bucket text body that every hot document repeats verbatim"),
            ).otherwise(F.col("text")),
        )
    )

    def _lsh_capped():
        return minhash_lsh_pairs(hot_text, threshold=0.8, max_bucket_size=64)

    def _lsh_mod_uncapped():
        return minhash_lsh_pairs(mod_text, threshold=0.8)

    def _lsh_mod_capped():
        return minhash_lsh_pairs(mod_text, threshold=0.8, max_bucket_size=64)

    def _exact_dedup_hot():
        return exact_text_dedup(hot_text)

    def _domain_cap_salted():
        return per_domain_cap(urls, "url", cap=500, salt_buckets=16)

    def _domain_cap_unsalted():
        return per_domain_cap(urls, "url", cap=500)

    def _hot_key_join_salted():
        fact = hot_text.withColumn("k", F.when(F.col("doc_id") % round(1 / hot_share) == 0, F.lit(7)).otherwise(F.col("doc_id") % 97))
        dim = spark.range(97).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        return salted_join(fact, dim, "k", salt_factor=32)

    def _epoch_shuffle_hot():
        return epoch_shuffle(hot_text, epoch=3)

    def _weighted_sample_hot():
        w = hot_text.withColumn("w", (F.col("n_chars") + 1).cast("double"))
        return weighted_sample(w, 200, "w", by=["lang"])

    # (fn, mitigated, shuffle_partitions override). The contrast pair
    # runs at 256 partitions: the hot bucket is one key PER BAND (16
    # keys) — at 32 partitions the 16 hot reducers happen to tile the
    # whole cluster and the straggle hides in the mean; at 256 (any
    # real cluster's scale) each hot key straggles among ~240
    # fast-idle peers, which is what 1000 executors would see.
    ops = {
        "minhash_pairs(cap=64)": (_lsh_capped, True, None),
        "minhash_2.5k-bucket(UNCAPPED contrast)": (_lsh_mod_uncapped, False, 256),
        "minhash_2.5k-bucket(cap=64)": (_lsh_mod_capped, True, 256),
        "exact_dedup(30% one key)": (_exact_dedup_hot, True, None),
        "domain_cap(salted)": (_domain_cap_salted, True, None),
        "domain_cap(UNSALTED contrast)": (_domain_cap_unsalted, False, None),
        "salted_join(30% hot key)": (_hot_key_join_salted, True, None),
        "epoch_shuffle": (_epoch_shuffle_hot, True, None),
        "weighted_sample(by lang)": (_weighted_sample_hot, True, None),
    }

    spread = StageSpread(spark)
    rows = []
    failures = []
    for name, (fn, mitigated, n_parts) in ops.items():
        spark.catalog.clearCache()
        spread.mark()
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        if n_parts:
            spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        t0 = time.time()
        try:
            fn().write.format("noop").mode("overwrite").save()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        wall = time.time() - t0
        stages = spread.collect()
        worst = max(stages, key=lambda s: s[5] if s[4] >= MIN_MAX_TASK_MS else 0.0, default=None)
        if worst is None or worst[4] < MIN_MAX_TASK_MS:
            verdict, ratio_txt = "ok (no substantial stage)", "-"
        else:
            ratio = worst[5]
            excess = worst[4] - worst[3]
            ratio_txt = f"{ratio:.1f}x (stage {worst[0]}: max {worst[4]/1000:.1f}s / mean {worst[3]/1000:.2f}s, {worst[2]} tasks)"
            straggler = ratio > 2.0 and excess > MIN_EXCESS_MS
            if mitigated and straggler:
                verdict = "FAIL"
                failures.append((name, ratio_txt))
            elif not mitigated and straggler:
                verdict = "skewed (expected — contrast row)"
            else:
                verdict = "ok"
        rows.append((name, wall, ratio_txt, verdict))
        print(f"{name:32s} wall={wall:5.1f}s  worst-task-spread={ratio_txt}  {verdict}")

    print("\n| op | wall | worst max-task/mean-task | verdict |")
    print("|---|---|---|---|")
    for name, wall, ratio_txt, verdict in rows:
        print(f"| {name} | {wall:.1f} s | {ratio_txt} | {verdict} |")

    if failures:
        print("\nFAILURES:", failures)
        raise SystemExit(1)
    print("\nall mitigated paths within 2x task spread")


if __name__ == "__main__":
    main()
