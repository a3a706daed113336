"""Row-level diff between a queries() entry and its oracle_sql() twin.

Usage: python scripts/diff_rows.py <query_name> [sf_dir]
Prints up to 10 rows present on only one side (after cell normalization).
"""

from __future__ import annotations

import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

from check_oracle import TABLES, norm_cell  # noqa: E402


def main():
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

    from etl_cli_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="diff-rows")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    df = entrymod.queries()[name](spark, sf_dir)
    pdf = df.toPandas()
    scols = list(pdf.columns)
    srows = list(pdf.itertuples(index=False, name=None))
    rel = con.sql(entrymod.oracle_sql()[name])
    dcols, drows = rel.columns, rel.fetchall()

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return Counter("|".join(norm_cell(r[i]) for i in order) for r in rows)

    s, d = norm(scols, srows), norm(dcols, drows)
    print(f"spark cols: {sorted(scols)}  rows={len(srows)}")
    print(f"duck  cols: {sorted(dcols)}  rows={len(drows)}")
    only_s = list((s - d).elements())
    only_d = list((d - s).elements())
    print(f"\nonly in spark ({len(only_s)}):")
    for r in sorted(only_s)[:10]:
        print("  ", r)
    print(f"only in duckdb ({len(only_d)}):")
    for r in sorted(only_d)[:10]:
        print("  ", r)


if __name__ == "__main__":
    main()
