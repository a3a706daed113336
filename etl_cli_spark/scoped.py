"""Call-scoped copies of an operator's input.

An operator that runs several Spark actions over one input (a sample
collect, then a kernel collect, then a write, ...) re-runs the input's
whole plan — every upstream shuffle — once per action, unless it
materializes the input first. ``scoped_copy`` is the one rule for that
copy:

- it holds only the columns the operator reads, never the full rows;
- the operator owns it: persisted (MEMORY_AND_DISK) on entry to the
  ``with`` block and released on every exit path, so no cached relation
  outlives the call;
- an input the caller already cached (``is_cached``) is read through
  the caller's cache, which is neither persisted again nor released.

The trade is one local spill of the columns read against one re-run of
the upstream plan per action.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame


@contextmanager
def scoped_copy(df: DataFrame, *cols: str | Column) -> Iterator[DataFrame]:
    """``df.select(*cols)`` (``df`` itself without ``cols``), computed
    at most once for the block."""
    frame = df.select(*cols) if cols else df
    if df.is_cached:
        yield frame
        return
    frame.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield frame
    finally:
        frame.unpersist()
