"""Put the "32k merges is minutes, not days" claim on record (round-9
VERDICT item 4): run a REAL 32k-merge BPE training through the full
``bpe_train(mode="auto")`` path — the one corpus-scale Spark pass, the
single-action budget-probe collect, and the driver-side heap trainer —
and measure wall time per stage plus PEAK DRIVER RSS (the collect and
the per-character trainer structures are the risk points the round-8
ADVICE flagged).

The sf0.1 ``documents`` fixture has a 31-word vocabulary (synthetic
word soup), so 32k merges would exhaust its pair table after a few
hundred rounds; this script instead generates a morphology-rich corpus
entirely JVM-side — words are 2-4 syllables drawn from a ~300-syllable
inventory, word ids log-uniform (Zipf-1-ish) over a configurable id
space — giving the deep, skewed pair structure a natural-language
corpus has, at a vocabulary size near the auto-mode driver budget.

    python scripts/bpe_32k_stress.py [n_docs] [n_merges] [max_word_id] [max_extra_syllables]

Defaults: 60_000 docs x 150 tokens (~9M tokens), 32_768 merges,
2_000_000 word-id space (~1M observed distinct words). Results land in
SCALE.md's bpe_train_32k row. Deterministic: all randomness is
xxhash64 of (doc_id, position), no RNG state.
"""

from __future__ import annotations

import os
import resource
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F


def rss_gb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024**2


def build_corpus(spark, n_docs: int, tokens_per_doc: int, max_word_id: int):
    """(doc_id, text) with Zipf-ish word frequencies and syllabic word
    structure, generated as one JVM-side expression (no Python loop,
    no driver data)."""
    cons = "bcdfghjklmnprstvz"
    vow = "aeiou"
    syls = [c + v for c in cons for v in vow]  # 85 CV
    syls += [c + v + c2 for c in cons[:6] for v in vow for c2 in "nrst"[:3]][:128]
    syls += [v + c for v in vow for c in cons[:12]][:60]
    syl_arr = F.array(*[F.lit(s) for s in syls])
    n_syl = len(syls)

    def h(*cols):
        return F.abs(F.xxhash64(*cols))

    # log-uniform word id over [1, max_word_id]: density ~ 1/k (Zipf-1)
    def word_id(doc, pos, salt):
        u = (h(doc, pos, F.lit(salt)) % 1_000_000) / 1_000_000.0
        return F.floor(F.exp(u * F.log(F.lit(float(max_word_id))))).cast("long")

    # word(k): 2..(2+max_extra) syllables, indices hash-derived from k
    # alone so the same id always spells the same word. max_extra also
    # controls the distinct-SPELLING space (the real vocabulary bound:
    # 2-syllable words collide into ~n_syl^2 forms), so deeper words =
    # bigger vocab for the budget-scaling measurement.
    max_extra = int(sys.argv[4]) if len(sys.argv) > 4 else 2

    def word(k):
        n_extra = h(k, F.lit(7)) % (max_extra + 1)
        parts = [
            F.element_at(syl_arr, (h(k, F.lit(1)) % n_syl + 1).cast("int")),
            F.element_at(syl_arr, (h(k, F.lit(2)) % n_syl + 1).cast("int")),
        ]
        for j in range(max_extra):
            parts.append(
                F.when(
                    n_extra >= j + 1,
                    F.element_at(
                        syl_arr, (h(k, F.lit(3 + j)) % n_syl + 1).cast("int")
                    ),
                ).otherwise(F.lit(""))
            )
        return F.concat(*parts)

    doc = F.col("doc_id")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(tokens_per_doc)),
            lambda p: word(word_id(doc, p, 0)),
        ),
        " ",
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 32_768
    max_word_id = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000
    tokens_per_doc = 150

    from etl_cli_spark.operators.bpe import bpe_train
    from etl_cli_spark.session import get_spark

    spark = get_spark(app_name="bpe-32k-stress")
    t0 = time.time()
    docs = build_corpus(spark, n_docs, tokens_per_doc, max_word_id)
    docs = docs.localCheckpoint()  # materialize so gen cost is separate
    n = docs.count()
    t_gen = time.time() - t0
    print(f"corpus: {n} docs x {tokens_per_doc} tokens, gen {t_gen:.1f}s, "
          f"rss {rss_gb():.2f} GB", flush=True)

    # vocabulary shape (what the budget gates see)
    vc = (
        docs.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").count()
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum("count").alias("n_tokens"),
        )
        .first()
    )
    print(f"vocab: {vc.n_words} distinct words, {vc.n_chars} chars, "
          f"{vc.n_tokens} tokens", flush=True)

    rss_before = rss_gb()
    t1 = time.time()
    merges = bpe_train(
        docs, n_merges=n_merges, mode="auto",
        # explicit generous budgets: the point is to MEASURE the driver
        # path at ~vocab scale, then scale the default budget from the
        # observed bytes/char
        driver_budget_words=max(4_000_000, vc.n_words + 1),
        driver_budget_chars=max(60_000_000, int(vc.n_chars) + 1),
    )
    got = merges.count()
    t_train = time.time() - t1
    rss_after = rss_gb()
    bpc = (rss_after - rss_before) * 1024**3 / max(int(vc.n_chars), 1)
    print(
        f"bpe_train_32k: {got}/{n_merges} merges in {t_train:.1f}s wall; "
        f"peak driver RSS {rss_after:.2f} GB "
        f"(delta {rss_after - rss_before:.2f} GB over the pre-collect "
        f"baseline = {bpc:.0f} B/vocab-char)",
        flush=True,
    )
    top = merges.orderBy("rank").limit(5).collect()
    print("first merges:", [(r.left, r.right, r.pair_count) for r in top])


if __name__ == "__main__":
    main()
