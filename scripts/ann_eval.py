"""ANN quality curves: recall@k vs candidate budget for every
approximate index family, against the exact brute-force ranking.

The correctness fixtures certify recall 1.0 by construction; this
harness measures what the hash tests can't — how recall degrades as
the probe budget shrinks, per family and operating point. Output: a
markdown table (committed as ANN_EVAL.md) of
(index, params, recall@10, exact-scored fraction).

    python scripts/ann_eval.py [sf_dir] [n_queries] [k] [n_centroids] [clone_span]

Candidate fraction = rows that get EXACT cosine scoring per query
(the expensive part at scale): LSH = bucket-union size, IVF = probed
cell rows, PQ/IVF-PQ = the ADC shortlist. All indexes build in /tmp.

``n_centroids`` follows the sqrt-N rule per tier (16 at sf0.1's 2k
vectors; ~64+ at sf1's 20k) — pass it explicitly for the sf1 tier so
cells keep ~sqrt(N) occupancy and n_probe stays comparable across
tiers as a FRACTION of cells probed.

``clone_span``: the sf1+ tiers are generated by gen_sf.py as N/2000
epsilon-perturbed COPIES of the sf0.1 corpus, so every query's true
top-10 is its own clone family and naive recall saturates at 1.0 for
every index (measured — the first sf1 run returned 1.000 on all 20+
operating points). Passing the copy period (2000) excludes each
query's own clone family (vec_id ≡ qid mod span) from BOTH the ground
truth and the probe results (probes overfetch k + ceil(N/clone_span) —
the query's own family size — so the exclusion can never starve the
top-k), leaving the realistic task: find the perturbed copies of
GENUINELY similar other vectors. 0 (default) disables — the sf0.1
protocol is unchanged.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    n_cent = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    clone_span = int(sys.argv[5]) if len(sys.argv) > 5 else 0

    from etl_cli_spark.session import get_spark
    from etl_cli_spark.operators.similarity import (
        ann_topk_indexed,
        build_ann_index,
        build_ivf_index,
        build_ivfpq_index,
        cosine_topk,
        ivf_topk_indexed,
        ivfpq_topk_indexed,
        pq_topk_rescored,
        pq_train,
    )

    spark = get_spark(app_name="ann-eval")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = emb.count()
    queries = [
        (int(r[0]), [float(v) for v in r[1]])
        for r in emb.orderBy("vec_id").limit(n_queries).collect()
    ]
    print(f"{n} vectors, {len(queries)} queries, recall@{k}"
          + (f", clone family (mod {clone_span}) excluded" if clone_span else "")
          + "\n")

    # probe overfetch for the clone exclusion: a query's own clone
    # family has ceil(n/clone_span) members (gen_sf.py copies the sf0.1
    # corpus every clone_span ids), ALL of which can rank above the true
    # neighbors — a flat k+10 under-fills ranked[:k] at sf5 (~100k
    # vectors -> 50 own-clones) and recall is systematically
    # under-reported at larger tiers (r9 advice)
    kk = k + (n + clone_span - 1) // clone_span if clone_span else k
    truth = {}
    for qid, q in queries:
        pool = (
            emb.filter(f"vec_id % {clone_span} != {qid % clone_span}")
            if clone_span else emb
        )
        truth[qid] = {int(r[0]) for r in cosine_topk(pool, q, k=k).collect()}

    tmp = tempfile.mkdtemp(prefix="ann_eval_")
    rows = []

    def evaluate(name, probe_fn, cand_fn):
        t0 = time.time()
        hits = tot = 0
        cand_total = 0.0
        for qid, q in queries:
            ranked = [int(r[0]) for r in probe_fn(q).collect()]
            if clone_span:
                ranked = [
                    i for i in ranked if i % clone_span != qid % clone_span
                ]
            got = set(ranked[:k])
            hits += len(got & truth[qid])
            tot += k
        for _, q in queries[:5]:  # candidate size is stable; sample 5
            cand_total += cand_fn(q)
        recall = hits / tot
        frac = cand_total / 5 / n
        dt = (time.time() - t0) / len(queries)
        rows.append((name, recall, frac, dt))
        print(f"{name:42s} recall@{k}={recall:.3f}  exact-scored={frac:7.2%}  {dt*1000:6.0f} ms/q")

    # LSH family: one index per banding; wider bands (fewer bits per
    # band) = more collisions = bigger candidate set = higher recall
    for n_planes, bands in ((16, 2), (16, 4), (16, 8)):
        path = f"{tmp}/lsh_{n_planes}_{bands}"
        build_ann_index(emb, path, n_planes=n_planes, bands=bands)
        evaluate(
            f"lsh(planes={n_planes}, bands={bands})",
            lambda q, p=path: ann_topk_indexed(spark, p, q, k=kk),
            lambda q, p=path: ann_topk_indexed(spark, p, q, k=1 << 30).count(),
        )

    # IVF: one index, growing probe budget
    ivf_path = f"{tmp}/ivf"
    build_ivf_index(emb, ivf_path, n_centroids=n_cent)
    probe_sweep = tuple(
        sorted({max(1, n_cent * f // 16) for f in (1, 2, 4, 8)})
    )  # same FRACTION of cells probed as the sf0.1 protocol
    for n_probe in probe_sweep:
        evaluate(
            f"ivf(n_centroids={n_cent}, n_probe={n_probe})",
            lambda q, np_=n_probe: ivf_topk_indexed(spark, ivf_path, q, k=kk, n_probe=np_),
            lambda q, np_=n_probe: ivf_topk_indexed(spark, ivf_path, q, k=1 << 30, n_probe=np_).count(),
        )

    # PQ with exact rescore: ADC scans every code (cheap, compressed);
    # the budget is the exact-rescore shortlist
    books = pq_train(emb, m=8, nbits=4)
    for shortlist in (20, 50, 100):
        evaluate(
            f"pq(m=8, nbits=4, shortlist={shortlist})",
            lambda q, s=shortlist: pq_topk_rescored(emb, books, q, k=kk, shortlist=s),
            lambda q, s=shortlist: float(min(s, n)),
        )

    # IVF-PQ: partition-pruned cells -> ADC shortlist -> exact rescore.
    # raw = the round-5 one-global-codebook layout; residual = the
    # round-8 FAISS layout (codes quantize v - centroid[cell]); resid8
    # = residual with nbits=8 codebooks (1 byte/code, the FAISS
    # default). Exact-scored fraction = shortlist/N for all of them —
    # n_probe only widens the CODE scan (bytes, not vectors)
    variants = [
        ("raw", dict(nbits=4, residual=False), ((2, 50), (4, 100), (8, 200))),
        ("residual", dict(nbits=4, residual=True),
         ((2, 50), (4, 100), (8, 100), (8, 200))),
        ("resid8", dict(nbits=8, residual=True),
         ((4, 100), (8, 100), (8, 200))),
    ]
    for vname, kw, points in variants:
        ivfpq_path = f"{tmp}/ivfpq_{vname}"
        build_ivfpq_index(emb, ivfpq_path, n_centroids=n_cent, m=8, **kw)
        points = list(points)
        if n > 5000:
            # bigger tiers: add the 1% and 5% FRACTIONAL budgets the
            # sf0.1 protocol's absolute shortlists correspond to, so
            # recall-at-equal-budget is comparable across tiers
            points += [(8, int(0.01 * n)), (8, int(0.05 * n))]
        for n_probe, shortlist in points:
            n_probe = max(1, n_cent * n_probe // 16)
            evaluate(
                f"ivfpq_{vname}(n_probe={n_probe}, shortlist={shortlist})",
                lambda q, p=ivfpq_path, np_=n_probe, s=shortlist: ivfpq_topk_indexed(
                    spark, p, q, k=kk, n_probe=np_, shortlist=s
                ),
                lambda q, np_=n_probe, s=shortlist: float(min(s, n)),
            )

    print(f"\n| index | recall@{k} | exact-scored fraction | ms/query |")
    print("|---|---|---|---|")
    for name, recall, frac, dt in rows:
        print(f"| {name} | {recall:.3f} | {frac:.2%} | {dt*1000:.0f} |")


if __name__ == "__main__":
    main()
