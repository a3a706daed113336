"""sf1 invariant gate for the quadratic-oracle families (round-7,
VERDICT r6 item 8).

The 15 pair-generation / k-means-replay queries can't run their DuckDB
oracles past sf0.01 (the oracles are O(n^2) by construction), so this
script gives those families at-scale evidence the cheap way: run the
ENGINE at sf1 and check linear-cost invariants —

- pair PRECISION by independent python recomputation on sampled pairs
  (jaccard / hamming / cosine, replicating the exact tokenization),
- pair RECALL on an id-block: exact all-pairs ground truth inside the
  block must be found by the engine (deterministic families asserted
  at 100%; LSH families asserted above the comfortable-margin band,
  reported at the boundary band),
- POLICY REPLAY: greedy keep, connected-components clustering, and
  split/cluster consistency recomputed in python from the engine's own
  pair list and compared exactly,
- similarity indexes: returned scores recomputed exactly in numpy +
  recall vs the exact ranking,
- semantic_dedup: the kept set is an independent set within every
  cluster cell, and the adaptive cluster-count bound holds.

    python scripts/sf1_invariants.py [sf_dir]   # default /tmp/sf1

Exit code 0 = all assertions hold; prints a table for SCALE.md.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
RESULTS: list[tuple[str, str]] = []


def report(name: str, ok: bool, detail: str) -> None:
    RESULTS.append((name, ("PASS " if ok else "FAIL ") + detail))
    print(("PASS" if ok else "FAIL"), name, "—", detail, flush=True)
    if not ok:
        global FAILED
        FAILED = True


FAILED = False

_WS = re.compile(r"\s+")


def py_tokens(text: str) -> list[str]:
    t = (text or "").strip().lower()
    return [x for x in _WS.split(t)] if t else [""]


def py_shingles(text: str, n: int = 3) -> set[str]:
    toks = py_tokens(text)
    m = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i : i + n]) for i in range(m)}


def py_jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return 1.0 if u == 0 else len(a & b) / u


def py_md5_hash64(tok: str) -> int:
    h = hashlib.md5(tok.encode()).hexdigest()
    return ((int(h[:8], 16) << 32) | int(h[8:16], 16)) & ((1 << 64) - 1)


def py_simhash(text: str, bits: int = 64) -> int:
    votes = [0] * bits
    seen = set()
    for tok in py_tokens(text):
        if tok in seen:
            continue
        seen.add(tok)
        h = py_md5_hash64(tok)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(bits):
        if votes[i] > 0:
            out |= 1 << i
    return out


def hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def union_find(pairs):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def main() -> int:
    import numpy as np
    from pyspark.sql import functions as F

    from etl_cli_spark.session import get_spark
    from etl_cli_spark.operators.dedup import (
        md5_hash64,
        minhash_dedup,
        minhash_dedup_cc,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from etl_cli_spark.operators.pipeline import leakage_safe_split
    from etl_cli_spark.operators.similarity import (
        ann_topk_indexed,
        build_ann_index,
        build_ivf_index,
        build_ivfpq_index,
        cosine_topk,
        embedding_neardup_pairs,
        ivf_topk_indexed,
        ivfpq_topk_indexed,
        pq_topk_rescored,
        pq_train,
        semantic_dedup,
    )

    spark = get_spark(app_name="sf1-invariants")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n_docs = docs.count()
    rng = random.Random(7)
    print(f"sf1 invariants over {SF}: {n_docs} documents", flush=True)

    def texts_for(ids):
        idl = list(ids)
        rows = docs.filter(docs.doc_id.isin(idl)).collect()
        return {int(r.doc_id): r.text for r in rows}

    # ---- minhash family: one engine pair list drives four checks ----
    mh_pairs = [
        (int(r.a_id), int(r.b_id))
        for r in minhash_lsh_pairs(docs, threshold=0.8).select("a_id", "b_id").collect()
    ]
    mh_set = set(mh_pairs)
    sample = rng.sample(mh_pairs, min(200, len(mh_pairs)))
    tx = texts_for({i for p in sample for i in p})
    bad = [
        p for p in sample
        if py_jaccard(py_shingles(tx[p[0]]), py_shingles(tx[p[1]])) < 0.8
    ]
    report(
        "minhash_pairs precision", not bad,
        f"{len(sample) - len(bad)}/{len(sample)} sampled pairs exact-jaccard>=0.8"
        + (f"; offenders {bad[:3]}" if bad else ""),
    )

    # recall block: half low-id docs, half members of engine pairs —
    # the second half guarantees the block covers pair-DENSE regions
    # (at generated tiers the per-copy text salt moves planted dups
    # away from the low ids), and ground truth inside the block is
    # still computed exactly and independently: ANY true pair between
    # block members must appear in the engine output, whether or not
    # the engine proposed it
    low_ids = [int(r.doc_id) for r in docs.orderBy("doc_id").limit(200).collect()]
    pair_members = sorted({i for p in mh_pairs for i in p})
    dense = rng.sample(pair_members, min(200, len(pair_members)))
    block_ids = sorted(set(low_ids) | set(dense))
    btx = texts_for(block_ids)
    bsh = {i: py_shingles(btx[i]) for i in block_ids}
    strong = border = strong_found = border_found = 0
    for i, a in enumerate(block_ids):
        for b in block_ids[i + 1 :]:
            j = py_jaccard(bsh[a], bsh[b])
            if j >= 0.9:
                strong += 1
                strong_found += (a, b) in mh_set
            elif j >= 0.8:
                border += 1
                border_found += (a, b) in mh_set
    report(
        "minhash_pairs block recall", strong_found == strong,
        f"j>=0.9: {strong_found}/{strong} found (must be all); "
        f"0.8<=j<0.9: {border_found}/{border} (LSH boundary band, reported)",
    )

    all_ids = {int(r.doc_id) for r in docs.select("doc_id").collect()}
    kept_engine = {int(r.doc_id) for r in minhash_dedup(docs, threshold=0.8).select("doc_id").collect()}
    kept_replay = all_ids - {b for _, b in mh_pairs}
    report(
        "minhash_dedup greedy replay", kept_engine == kept_replay,
        f"engine kept {len(kept_engine)} == python replay {len(kept_replay)} "
        f"(sym-diff {len(kept_engine ^ kept_replay)})",
    )

    cc = union_find(mh_pairs)
    losers = {x for x, root in cc.items() if x != root}
    kept_cc_engine = {
        int(r.doc_id)
        for r in minhash_dedup_cc(docs, threshold=0.8).select("doc_id").collect()
    }
    kept_cc_replay = all_ids - losers
    report(
        "minhash_dedup_cc clustering replay", kept_cc_engine == kept_cc_replay,
        f"engine kept {len(kept_cc_engine)} == union-find replay {len(kept_cc_replay)} "
        f"(sym-diff {len(kept_cc_engine ^ kept_cc_replay)})",
    )

    split_rows = leakage_safe_split(docs, threshold=0.8).select("doc_id", "split").collect()
    split_of = {int(r.doc_id): r.split for r in split_rows}
    cluster_members: dict = {}
    for x, root in cc.items():
        cluster_members.setdefault(root, []).append(x)
    straddlers = sum(
        1 for members in cluster_members.values()
        if len({split_of[m] for m in members if m in split_of}) > 1
    )
    report(
        "leakage_split cluster consistency", straddlers == 0,
        f"{len(cluster_members)} near-dup clusters, {straddlers} straddle a split "
        f"(splits: { {s: sum(1 for v in split_of.values() if v == s) for s in set(split_of.values())} })",
    )

    # ---- simhash: pigeonhole recall is EXACT, so both directions assert --
    sh_pairs = {
        (int(r.a_id), int(r.b_id))
        for r in simhash_pairs(docs, max_distance=3, token_hash=md5_hash64)
        .select("a_id", "b_id").collect()
    }
    s_sample = rng.sample(sorted(sh_pairs), min(200, len(sh_pairs)))
    stx = texts_for({i for p in s_sample for i in p})
    s_bad = [
        p for p in s_sample
        if hamming(py_simhash(stx[p[0]]), py_simhash(stx[p[1]])) > 3
    ]
    report(
        "simhash_pairs precision", not s_bad,
        f"{len(s_sample) - len(s_bad)}/{len(s_sample)} sampled pairs hamming<=3",
    )
    blk = block_ids[:300]
    bsim = {i: py_simhash(btx[i]) for i in blk}
    truth = {
        (a, b)
        for i, a in enumerate(blk)
        for b in blk[i + 1 :]
        if hamming(bsim[a], bsim[b]) <= 3
    }
    missing = truth - sh_pairs
    report(
        "simhash_pairs block recall (exact)", not missing,
        f"{len(truth) - len(missing)}/{len(truth)} block pairs found (pigeonhole => must be all)",
    )

    # ---- ngram jaccard: exact algorithm, both directions assert ----
    ng_pairs = {
        (int(r.a_id), int(r.b_id))
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.6)
        .select("a_id", "b_id").collect()
    }
    n_sample = rng.sample(sorted(ng_pairs), min(200, len(ng_pairs)))
    ntx = texts_for({i for p in n_sample for i in p})
    n_bad = [
        p for p in n_sample
        if py_jaccard(py_shingles(ntx[p[0]]), py_shingles(ntx[p[1]])) < 0.6 - 1e-9
    ]
    report(
        "ngram_pairs precision", not n_bad,
        f"{len(n_sample) - len(n_bad)}/{len(n_sample)} sampled pairs jaccard>=0.6",
    )
    n_truth = {
        (a, b)
        for i, a in enumerate(block_ids)
        for b in block_ids[i + 1 :]
        if py_jaccard(bsh[a], bsh[b]) >= 0.6
    }
    n_missing = n_truth - ng_pairs
    report(
        "ngram_pairs block recall (exact)", not n_missing,
        f"{len(n_truth) - len(n_missing)}/{len(n_truth)} block pairs found (exact algo => must be all)",
    )

    # ---- embeddings: numpy ground truth is linear, full checks ----
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    ids = sorted(vecs)
    mat = np.stack([vecs[i] for i in ids])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    row_of = {v: i for i, v in enumerate(ids)}

    nd_pairs = {
        (int(r.a_id), int(r.b_id))
        for r in embedding_neardup_pairs(emb, threshold=0.4, bands=8)
        .select("a_id", "b_id").collect()
    }
    nd_bad = [
        (a, b) for a, b in rng.sample(sorted(nd_pairs), min(300, len(nd_pairs)))
        if round(float(unit[row_of[a]] @ unit[row_of[b]]), 6) < 0.4 - 1e-4
    ]
    report(
        "embedding_neardup precision", not nd_bad,
        f"{min(300, len(nd_pairs)) - len(nd_bad)}/{min(300, len(nd_pairs))} sampled pairs cosine>=0.4",
    )
    blk_v = ids[:400]
    sub = unit[: len(blk_v)]
    cos = sub @ sub.T
    e_strong = e_border = e_strong_found = e_border_found = 0
    for i in range(len(blk_v)):
        for j in range(i + 1, len(blk_v)):
            c = round(float(cos[i, j]), 6)
            p = (blk_v[i], blk_v[j])
            if c >= 0.45:
                e_strong += 1
                e_strong_found += p in nd_pairs
            elif c >= 0.4:
                e_border += 1
                e_border_found += p in nd_pairs
    report(
        "embedding_neardup block recall", e_strong_found == e_strong,
        f"cos>=0.45: {e_strong_found}/{e_strong} found (must be all); "
        f"0.4<=cos<0.45: {e_border_found}/{e_border} (LSH boundary band, reported)",
    )

    # ---- similarity indexes: exact-score + recall vs numpy ranking ----
    q = [float(x) for x in vecs[0]]
    qu = np.asarray(q) / np.linalg.norm(q)
    exact_rank = [ids[i] for i in np.argsort(-(unit @ qu), kind="stable")]
    exact10 = set(exact_rank[:10])

    import tempfile

    tmp = tempfile.mkdtemp(prefix="sf1_inv_")

    def score_check(rows, label, floor):
        got = [(int(r[0]), float(r[1])) for r in rows]
        score_bad = [
            (i, s) for i, s in got
            if abs(s - round(float(unit[row_of[i]] @ qu), 6)) > 1e-5
        ]
        rec = len({i for i, _ in got} & exact10) / 10
        report(
            f"{label} scores exact + recall@10", not score_bad and rec >= floor,
            f"returned scores exact for {len(got) - len(score_bad)}/{len(got)} ids; "
            f"recall@10={rec:.2f} (floor {floor})",
        )

    build_ann_index(emb, f"{tmp}/lsh", n_planes=16, bands=4)
    score_check(
        ann_topk_indexed(spark, f"{tmp}/lsh", q, k=10).collect(),
        "similarity_ann(16,4)", 0.2,
    )
    build_ivf_index(emb, f"{tmp}/ivf", n_centroids=16)
    score_check(
        ivf_topk_indexed(spark, f"{tmp}/ivf", q, k=10, n_probe=4).collect(),
        "similarity_ivf(16,probe=4)", 0.5,
    )
    books = pq_train(emb, m=8, nbits=4)
    score_check(
        pq_topk_rescored(emb, books, q, k=10, shortlist=100).collect(),
        "similarity_pq(shortlist=100)", 0.2,
    )
    build_ivfpq_index(emb, f"{tmp}/ivfpq", n_centroids=16, m=8, nbits=4)
    score_check(
        ivfpq_topk_indexed(spark, f"{tmp}/ivfpq", q, k=10, n_probe=8, shortlist=200).collect(),
        "similarity_ivfpq(8,200)", 0.2,
    )

    # ---- semantic_dedup: kept set is an independent set per cell ----
    n_clusters = max(16, len(ids) // 128)
    kept = semantic_dedup(emb, n_clusters=n_clusters, threshold=0.4).select(
        "vec_id", F.col("__cell").alias("cell")
    ).collect()
    cell_of: dict = {}
    for r in kept:
        cell_of.setdefault(int(r.cell), []).append(int(r.vec_id))
    max_cell = max(cell_of)
    viol = boundary = 0
    for members in cell_of.values():
        rows = np.stack([unit[row_of[m]] for m in members])
        cc_ = rows @ rows.T
        iu = np.triu_indices(len(members), k=1)
        vals = np.round(cc_[iu], 6)
        viol += int((vals >= 0.4 + 1e-4).sum())
        boundary += int(((vals >= 0.4 - 1e-4) & (vals < 0.4 + 1e-4)).sum())
    report(
        "semantic_dedup independent set", viol == 0 and max_cell < n_clusters,
        f"kept {len(kept)}/{len(ids)} across {len(cell_of)} cells "
        f"(max cell id {max_cell} < {n_clusters}); {viol} within-cell pairs "
        f">= threshold ({boundary} at the 6dp boundary, exempt)",
    )

    print("\n| check | result |")
    print("|---|---|")
    for name, detail in RESULTS:
        print(f"| {name} | {detail} |")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
