"""Worst-case stress for repeated-span strip reconstruction
(VERDICT r7 item 3): a boilerplate-SATURATED corpus — every document
5-10k tokens with >=90% of tokens covered by shared spans — where the
per-token exists-over-starts coverage test is at its O(tokens x spans)
worst, vs. the interval-merge fold alternative (merge the sorted span
starts into disjoint [s, e) intervals first; at saturation they
collapse to ~1 interval per doc, making the per-token test O(1)).

Usage: python scripts/span_stress.py [n_docs] [saturation]
Prints one JSON line per scenario; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

N = 10  # gram width (the operator's default)


def make_corpus(spark, n_docs: int, coverage: float, seed: int = 11):
    """Docs of 5-10k tokens; ``coverage`` fraction built from shared
    50-token boilerplate blocks (each block sampled from a small pool,
    so every block appears in many docs => every window inside it is a
    repeated span), the rest unique-per-doc tokens."""
    rng = random.Random(seed)
    pool = [
        [f"bp{b}_{i}" for i in range(50)] for b in range(40)
    ]  # 40 shared 50-token blocks
    rows = []
    for d in range(n_docs):
        target = rng.randint(5000, 10000)
        toks: list[str] = []
        while len(toks) < target:
            if rng.random() < coverage:
                toks.extend(rng.choice(pool))
            else:
                toks.extend(f"u{d}_{len(toks)}_{j}" for j in range(10))
        rows.append((d, " ".join(toks[:target])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def strip_exists(docs, spans):
    """Current production reconstruction (pipeline._strip_spans)."""
    from etl_cli_spark.operators.pipeline import _strip_spans

    return _strip_spans(docs, spans, N, "doc_id", "text")


def strip_intervals(docs, spans):
    """Alternative: merge sorted starts into disjoint [s, e) intervals
    with one aggregate() fold, then test tokens against the (far
    shorter at saturation) interval list."""
    starts = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("start")).alias("__starts")
    )
    iv = F.aggregate(
        F.col("__starts"),
        F.expr("CAST(array() AS array<struct<s:int,e:int>>)"),
        lambda acc, st: F.when(
            (F.size(acc) > 0) & (st <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], st + F.lit(N)
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(st.alias("s"), (st + F.lit(N)).alias("e"))),
            )
        ),
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    idx = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        F.zip_with(idx, toks, lambda i, t: F.struct(i.alias("i"), t.alias("t"))),
        lambda s: ~F.exists(
            F.col("__iv"), lambda v: (s["i"] >= v["s"]) & (s["i"] < v["e"])
        ),
    )
    return (
        docs.join(starts, "doc_id", "left")
        .withColumn(
            "__starts",
            F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
        )
        .withColumn("__iv", iv)
        .withColumn("__kept", kept)
        .withColumn(
            "n_stripped",
            F.coalesce(
                (F.size(toks) - F.size(F.col("__kept"))).cast("int"), F.lit(0)
            ),
        )
        .withColumn(
            "text",
            F.concat_ws(" ", F.transform(F.col("__kept"), lambda s: s["t"])),
        )
        .drop("__starts", "__iv", "__kept")
    )


def main() -> None:
    """Measured verdict (sf-independent; 2026-08-15, local[32]):

    | scenario (coverage 0.93, ~7.2k spans/doc, 5-10k tokens/doc) | exists | intervals |
    |---|---|---|
    | 20 docs  | 2.1 s | 474.6 s |
    | 60 docs  | 4.8 s | (extrapolates ~23 min) |
    | 300 docs | 74.9 s | not run (pathological) |

    exists-over-starts HOLDS at saturation: ``F.exists`` short-circuits
    on the first covering span, so the 93%-covered tokens exit in a few
    steps and only the ~7% uncovered tokens scan the full starts array
    — per-doc-bounded, corpus axis linear. The interval-merge fold is
    ~200x WORSE here, not better: merging 7.2k starts costs 7.2k
    interpreted aggregate() steps per doc (each a struct build +
    slice/concat) before the first token is tested, and that fold cost
    dwarfs everything the shorter interval list saves. Decision: keep
    exists-over-starts unconditionally (recorded in _strip_spans's
    docstring); the fold stays here only as the measured-and-rejected
    alternative. Both reconstructions agree exactly (asserted below at
    the small size).
    """
    from etl_cli_spark.operators.pipeline import _span_windows
    from etl_cli_spark.session import get_spark

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    spark = get_spark(app_name="span_stress")
    for label, coverage in (("saturated_90pct", 0.93), ("realistic_30pct", 0.30)):
        docs = make_corpus(spark, n_docs, coverage).persist()
        docs.count()
        wins = _span_windows(docs, N, "doc_id", "text")
        rep = wins.groupBy("gh").agg(
            F.count_distinct("doc_id").alias("nd")
        ).filter("nd >= 2").select("gh")
        spans = wins.join(rep, "gh", "left_semi").persist()
        spans.count()
        stats = docs.select(
            F.avg(F.size(F.split("text", r"\s+"))).alias("toks")
        ).collect()[0]
        span_per_doc = spans.groupBy("doc_id").count().agg(
            F.avg("count")
        ).collect()[0][0]
        t0 = time.perf_counter()
        strip_exists(docs, spans).write.format("noop").mode("overwrite").save()
        exists_sec = round(time.perf_counter() - t0, 2)
        stripped_frac = (
            strip_exists(docs, spans)
            .agg(F.sum("n_stripped") / F.sum(F.size(F.split("text", r"\s+")) + F.col("n_stripped")))
            .collect()[0][0]
        )
        # the rejected alternative + the agreement check run on a small
        # slice only: the fold is O(spans/doc) interpreted steps per doc
        # and takes ~24 s/doc at saturation (the table above)
        small_docs = docs.filter(f"doc_id < {min(n_docs, 20)}").persist()
        small = spans.join(
            small_docs.select("doc_id"), "doc_id", "left_semi"
        ).persist()
        t0 = time.perf_counter()
        strip_intervals(small_docs, small).write.format("noop").mode("overwrite").save()
        intervals_small_sec = round(time.perf_counter() - t0, 2)
        a = strip_exists(small_docs, small).select("doc_id", "text", "n_stripped")
        b = strip_intervals(small_docs, small).select("doc_id", "text", "n_stripped")
        mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
        print(json.dumps({
            "scenario": label, "n_docs": n_docs,
            "avg_tokens_per_doc": round(float(stats.toks), 1),
            "avg_spans_per_doc": round(float(span_per_doc), 1),
            "stripped_frac": round(float(stripped_frac), 3),
            "exists_sec": exists_sec,
            "interval_merge_sec_first_20_docs": intervals_small_sec,
            "reconstructions_agree": mismatch == 0,
        }), flush=True)
        for d in (small, small_docs, spans, docs):
            d.unpersist()


if __name__ == "__main__":
    main()
