"""The commit path of a manifest table: the pk change feed's plan and
its differential equality with the three-join formulation, driver-side
schemas for staged writes, the MERGE source's lifetime, and a
changefeed drain whose cost stays flat over many commits."""

from __future__ import annotations

import json
import os
import random
import re
from datetime import date

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.types import StructType

from etl_cli_spark.operators.writeops import (
    ParquetTable,
    _multiset_diff,
    apply_write_op,
)
from etl_cli_spark.spec import TargetSpec


def _reference_pk_changes(old, new, pk, version):
    """The pk change feed as a multiset diff plus three joins against its
    own outputs (insert = anti, update = semi, delete = anti) — the
    formulation the one-exchange plan replaced, kept as the oracle."""
    added, removed = _multiset_diff(old, new)
    old_keys = removed.select(*pk)
    new_keys = added.select(*pk)
    ins = added.join(old_keys, on=pk, how="left_anti").withColumn(
        "change_type", F.lit("insert")
    )
    upd = added.join(old_keys.distinct(), on=pk, how="left_semi").withColumn(
        "change_type", F.lit("update_postimage")
    )
    del_ = removed.join(new_keys, on=pk, how="left_anti").withColumn(
        "change_type", F.lit("delete")
    )
    return (
        ins.unionByName(upd)
        .unionByName(del_)
        .withColumn("commit_version", F.lit(int(version)))
    )


def _key(rows):
    # NaN-normalized, null-distinct multiset fingerprint
    return sorted(
        tuple(
            "NULL" if v is None else ("NaN" if v != v else repr(v)) for v in r
        )
        for r in rows
    )


_SCHEMA = "k1 int, k2 int, v string, x double, p int"
# planted rows live at k1 >= 10, away from the random rows' k1 in 0..3
_DUP = (10, 0, "d", 1.0, 1)
_NULL_OLD, _NULL_NEW = (None, 5, "n1", 0.0, 1), (None, 5, "n2", 0.0, 1)
_HALF_OLD, _HALF_NEW = (11, None, "h1", 0.0, 1), (11, None, "h2", 0.0, 1)
_UPD_OLD, _UPD_NEW = (12, 0, "u", 1.0, 1), (12, 0, "u", 2.0, 1)
_REINSERT = (13, 0, "r", 3.0, 1)


def _random_rows(rng, n):
    return [
        (
            rng.choice([None, 0, 1, 2, 3]),
            rng.choice([None, 0, 1]),
            rng.choice([None, "a", "b"]),
            rng.choice([None, float("nan"), 0.0, 1.0]),
            1,
        )
        for _ in range(n)
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_pk_change_feed_matches_three_join_reference(spark, tmp_path, seed):
    """snapshot_changes(pk=...) equals the multiset-diff + three-join
    formulation row for row (as multisets) and in its exact schema,
    nullability included, on seeded random snapshot pairs. The pairs
    carry duplicate rows, null pks, a two-column pk with one column
    null, a non-pk-only update, a delete followed by an identical
    reinsert (cancels over the two commits) and a partition whose files
    both snapshots share (cancels without being scanned)."""
    rng = random.Random(seed)
    shared = [(r[0], r[1], r[2], r[3], 0) for r in _random_rows(rng, 8)]
    old = _random_rows(rng, 10) + [
        _DUP, _DUP, _NULL_OLD, _HALF_OLD, _UPD_OLD, _REINSERT,
    ]
    new = _random_rows(rng, 10) + [
        _DUP, _DUP, _DUP, _NULL_NEW, _HALF_NEW, _UPD_NEW, _REINSERT,
    ]
    t = ParquetTable(
        spark, str(tmp_path / "cdf.parquet"), partition_by=("p",), manifest=True
    )
    t.append(spark.createDataFrame(shared + old, _SCHEMA))  # v0
    mid = [r for r in old if r != _REINSERT]
    t.overwrite_value_partitions(spark.createDataFrame(mid, _SCHEMA), "p", [1])  # v1
    t.overwrite_value_partitions(spark.createDataFrame(new, _SCHEMA), "p", [1])  # v2
    assert set(t._manifest_at(0)["files"]) & set(t._manifest_at(2)["files"])

    for pk in (["k1", "k2"], ["k1"]):
        for a, b in ((0, 1), (1, 2), (0, 2)):
            got = t.snapshot_changes(a, b, pk=pk)
            ref = _reference_pk_changes(
                t.read_version(a), t.read_version(b), pk, b
            )
            assert got.schema == ref.schema, (pk, a, b)
            assert _key(got.collect()) == _key(ref.collect()), (pk, a, b)

    rows = t.snapshot_changes(0, 2, pk=["k1", "k2"]).collect()
    kinds = {tuple(r)[:4]: r.change_type for r in rows}
    assert kinds[_DUP[:4]] == "insert"
    assert sum(tuple(r)[:4] == _DUP[:4] for r in rows) == 1
    # null pk columns never match: delete + insert, not an update
    assert kinds[_NULL_NEW[:4]] == "insert" and kinds[_NULL_OLD[:4]] == "delete"
    assert kinds[_HALF_NEW[:4]] == "insert" and kinds[_HALF_OLD[:4]] == "delete"
    assert kinds[_UPD_NEW[:4]] == "update_postimage"
    assert _UPD_OLD[:4] not in kinds and _REINSERT[:4] not in kinds
    assert not any(r.p == 0 for r in rows)


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_pk_change_feed_runs_one_exchange(spark, tmp_path, spark_jobs):
    """The executed pk-diff plan has exactly one shuffle Exchange and no
    BroadcastExchange, and collecting it runs at most two jobs (the
    shuffle's map stage and the result)."""
    t = ParquetTable(
        spark, str(tmp_path / "up.parquet"),
        bucket_by=("k",), n_buckets=4, manifest=True,
    )
    t.append(spark.range(200).selectExpr("id as k", "id % 7 as v"))  # v0
    src = spark.range(0, 400, 3).selectExpr("id as k", "id % 5 as v")
    apply_write_op(src, t, TargetSpec(ds="t", op="upsert", pk=("k",)))  # v1
    ch = t.snapshot_changes(0, 1, pk=("k",))
    with spark_jobs() as jobs:
        rows = ch.collect()
    assert {r.change_type for r in rows} == {"insert", "update_postimage"}
    plan = _final_plan(ch)
    assert len(re.findall(r"(?<![A-Za-z])Exchange ", plan)) == 1, plan
    assert "BroadcastExchange" not in plan, plan
    assert 1 <= len(jobs) <= 2, jobs


def test_manifest_writes_never_read_staged_files(spark, tmp_path, monkeypatch):
    """append, overwrite and overwrite_buckets commit the schema without
    reading the files they just staged: any parquet read inside
    _stage_write fails the write."""
    real = ParquetTable._stage_write

    def guarded(self, df):
        def no_read(*a, **kw):
            raise AssertionError("_stage_write read parquet files")

        with monkeypatch.context() as m:
            m.setattr(DataFrameReader, "parquet", no_read)
            return real(self, df)

    monkeypatch.setattr(ParquetTable, "_stage_write", guarded)
    df = spark.range(50).selectExpr("id as k", "cast(id as string) as s")
    plain = ParquetTable(spark, str(tmp_path / "plain.parquet"), manifest=True)
    plain.append(df)
    plain.overwrite(df.filter("k < 20"))
    bucketed = ParquetTable(
        spark, str(tmp_path / "b.parquet"),
        bucket_by=("k",), n_buckets=4, manifest=True,
    )
    bucketed.append(df)
    bucketed.overwrite_buckets(bucketed.read_buckets([1]).filter("k > 10"), [1])
    assert plain.read().count() == 20
    assert bucketed.read().count() < 50


def _committed_vs_read_back(spark, t, df):
    """(committed schema json, pinned read-back json): the latest
    version's files read back under basePath, each field pinned to the
    input frame's own field wherever the names match."""
    _ver, man = t._latest_manifest()
    back = (
        spark.read.option("basePath", t.path)
        .parquet(*[os.path.join(t.path, f) for f in man["files"]])
        .schema
    )
    by_name = {f.name: f for f in df.schema.fields}
    return man["schema"], StructType(
        [by_name.get(f.name, f) for f in back.fields]
    ).json()


@pytest.mark.parametrize(
    "kw",
    [
        {},
        dict(bucket_by=("id",), n_buckets=3),
        dict(partition_by=("code",)),
        dict(partition_by=("day",)),
        dict(partition_by=("day", "code")),
    ],
    ids=["plain", "bucketed", "string_part", "date_part", "two_parts"],
)
def test_committed_schema_equals_read_back(spark, tmp_path, kw):
    """The driver-derived schema a manifest commit records equals the
    read-back of the written files pinned to the input frame's fields,
    for plain, bucketed and value-partitioned tables — a string
    partition value like '007' stays a string, a date partition a
    date, and non-null fields stay non-null."""
    df = spark.createDataFrame(
        [
            (1, "007", date(2024, 1, 2), 1.5),
            (2, "010", date(2024, 1, 3), None),
            (3, "007", date(2024, 1, 3), 2.5),
        ],
        "id long not null, code string, day date, score double",
    )
    t = ParquetTable(spark, str(tmp_path / "t.parquet"), manifest=True, **kw)
    t.append(df)
    committed, expect = _committed_vs_read_back(spark, t, df)
    assert committed == expect
    fields = {f.name: f for f in StructType.fromJson(json.loads(committed)).fields}
    assert fields["code"].dataType.simpleString() == "string"
    assert fields["day"].dataType.simpleString() == "date"
    assert fields["id"].nullable is False
    assert sorted(r.code for r in t.read().collect()) == ["007", "007", "010"]
    t.overwrite(df.filter("id > 1"))
    committed, expect = _committed_vs_read_back(spark, t, df)
    assert committed == expect


def _bucketed_target(spark, path):
    t = ParquetTable(spark, path, bucket_by=("k",), n_buckets=4, manifest=True)
    t.append(spark.range(40).selectExpr("cast(id as int) as k", "cast(id as int) as v"))
    return t


@pytest.mark.parametrize("op", ["update", "delete"])
def test_write_op_on_missing_target_releases_source(
    spark, tmp_path, persisted_rdds, op
):
    """update/delete against a missing target is a no-op that must not
    leave its persisted source behind."""
    t = ParquetTable(spark, str(tmp_path / "missing.parquet"), manifest=True)
    # a per-op source plan: a leaked cache of one op's source would
    # otherwise be reused by the other's persist
    src = spark.range(10).selectExpr("id as k", f"'{op}' as v")
    before = persisted_rdds()
    out = apply_write_op(src, t, TargetSpec(ds="t", op=op, pk=("k",)))
    assert out.count() == 0
    assert persisted_rdds() - before == set()


def test_raising_write_op_releases_source(spark, tmp_path, persisted_rdds):
    """An exception after the source is persisted — here the schema-drift
    ValueError from overwrite_buckets' commit (an int column widened to
    bigint by the MERGE) — must not leak the persisted source."""
    t = _bucketed_target(spark, str(tmp_path / "drift.parquet"))
    src = spark.range(5).selectExpr("cast(id as int) as k", "id + 100 as v")
    before = persisted_rdds()
    with pytest.raises(ValueError, match="schema drift"):
        apply_write_op(src, t, TargetSpec(ds="t", op="upsert", pk=("k",)))
    assert persisted_rdds() - before == set()


def test_raising_insert_releases_source(spark, tmp_path, persisted_rdds, monkeypatch):
    """The insert op's persisted source is released when its append raises."""
    t = _bucketed_target(spark, str(tmp_path / "ins.parquet"))

    def fail(df):
        raise RuntimeError("append failed")

    monkeypatch.setattr(t, "append", fail)
    src = spark.range(30, 50).selectExpr("cast(id as int) as k", "cast(id as int) as v")
    before = persisted_rdds()
    with pytest.raises(RuntimeError, match="append failed"):
        apply_write_op(src, t, TargetSpec(ds="t", op="insert", pk=("k",)))
    assert persisted_rdds() - before == set()


def test_changefeed_drain_stays_flat(spark, tmp_path, spark_jobs):
    """Twelve alternating upsert/delete commits on a small bucketed
    manifest table, each drained by changefeed_merge: the jobs per drain
    do not grow from the first three drains to the last three, and the
    downstream stays one live file."""
    from etl_cli_spark.streaming.incremental import changefeed_merge

    up = _bucketed_target(spark, str(tmp_path / "up.parquet"))
    down = ParquetTable(spark, str(tmp_path / "down.parquet"), manifest=True)
    changefeed_merge(spark, up, down, pk=("k",))  # initial load
    per_drain = []
    for i in range(12):
        if i % 2 == 0:
            src = spark.range(i, i + 60, 4).selectExpr(
                "cast(id as int) as k", f"cast(id * {i + 2} as int) as v"
            )
            apply_write_op(src, up, TargetSpec(ds="u", op="upsert", pk=("k",)))
        else:
            keys = spark.range(i, i + 40, 9).selectExpr("cast(id as int) as k")
            apply_write_op(keys, up, TargetSpec(ds="u", op="delete", pk=("k",)))
        with spark_jobs() as jobs:
            s = changefeed_merge(spark, up, down, pk=("k",))
        assert s.versions_applied == 1
        per_drain.append(len(jobs))
        assert len(down._latest_manifest()[1]["files"]) == 1, i
    assert max(per_drain[-3:]) <= max(per_drain[:3]), per_drain
    assert _key(down.read().collect()) == _key(up.read().collect())
