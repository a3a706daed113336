"""Scale the sf0.1 testdata 10x (or Nx) into a scratch dir, preserving
the star schema's FK structure, for the sf1 bench tier (round-6 judge
item #2: catch hidden driver-side or memory cliffs before claiming
"100 TB").

Each big table is replicated N times with copy i's keys offset by
i * (max_key + 1); FK columns get the SAME offset as the table they
reference, so every join keeps exactly its sf0.1 selectivity per copy.
Dimensions (region, nation) stay fixed, like TPC-H itself. Text is
salted per copy ("cp<i>" token) with n_chars recomputed so dedup-family
queries keep realistic (non-degenerate) duplicate structure; embeddings
are epsilon-perturbed per copy so the ANN neighbor structure isn't 10
exact clones per vector.

    python scripts/gen_sf.py [out_dir] [factor] [src_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F


def replicate(df, factor, offsets, text_col=None, nchars_col=None, vec_col=None):
    """offsets: {col: span}; copy i adds i*span to col."""
    parts = []
    for i in range(factor):
        c = df
        for col, span in offsets.items():
            c = c.withColumn(col, (F.col(col) + F.lit(i * span)).cast(df.schema[col].dataType))
        if text_col and i > 0:
            c = c.withColumn(text_col, F.concat(F.col(text_col), F.lit(f" cp{i}")))
            if nchars_col:
                c = c.withColumn(nchars_col, F.length(text_col).cast(df.schema[nchars_col].dataType))
        if vec_col and i > 0:
            eps = 1e-3 * i
            c = c.withColumn(
                vec_col,
                F.transform(F.col(vec_col), lambda x, j: x + F.lit(eps) * F.cos(j.cast("double"))),
            )
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from etl_cli_spark.session import get_spark

    spark = get_spark(app_name="gen-sf")
    os.makedirs(out_dir, exist_ok=True)

    def span(table, col):
        return (
            spark.read.parquet(f"{src}/{table}.parquet").agg(F.max(col)).first()[0] + 1
        )

    c_span = span("customer", "c_custkey")
    s_span = span("supplier", "s_suppkey")
    p_span = span("part", "p_partkey")
    o_span = span("orders", "o_orderkey")
    e_span = span("events", "event_id")
    u_span = span("events", "user_id")
    d_span = span("documents", "doc_id")
    v_span = span("embeddings", "vec_id")

    plans = {
        "region": {},
        "nation": {},
        "customer": {"c_custkey": c_span},
        "supplier": {"s_suppkey": s_span},
        "part": {"p_partkey": p_span},
        "orders": {"o_orderkey": o_span, "o_custkey": c_span},
        "lineitem": {"l_orderkey": o_span, "l_partkey": p_span, "l_suppkey": s_span},
        "events": {"event_id": e_span, "user_id": u_span},
        "documents": {"doc_id": d_span},
        "embeddings": {"vec_id": v_span},
    }
    for table, offsets in plans.items():
        df = spark.read.parquet(f"{src}/{table}.parquet")
        if not offsets:  # fixed dimension
            df.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
            continue
        kw = {}
        if table == "documents":
            kw = {"text_col": "text", "nchars_col": "n_chars"}
        if table == "embeddings":
            kw = {"vec_col": "embedding"}
        out = replicate(df, factor, offsets, **kw)
        out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
        print(f"{table}: {out.count()} rows")


if __name__ == "__main__":
    main()
