"""Capture ``.explain("formatted")`` for named declared/bench queries.

Usage: python scripts/capture_plans.py <outdir> <suffix> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` for each query (suffix is
``before`` / ``after``). Queries resolve from ``__spark_entry__.queries()``
plus ``bench.EXTRA_QUERIES``/``EXTRA_PARTS`` (media rows run their setup
first, exactly like the bench, so the captured plan is the timed region's).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from etl_cli_spark.session import get_spark

    import __spark_entry__ as entrymod
    import bench

    spark = get_spark(app_name="capture-plans")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = dict(entrymod.queries(), **bench.EXTRA_QUERIES)
    parts = dict(
        entrymod.bench_parts() if hasattr(entrymod, "bench_parts") else {},
        **bench.EXTRA_PARTS,
    )
    for name in names:
        if name in parts:
            setup_fn, run_fn = parts[name]
            state = setup_fn(spark, sf_dir)
            df = run_fn(spark, sf_dir, state)
        elif name in qs:
            df = qs[name](spark, sf_dir)
        else:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
