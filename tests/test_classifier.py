from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cli_spark.operators.classifier import (
    hashed_features,
    score_with_classifier,
    train_linear_classifier,
)
from etl_cli_spark.operators.text import tokens


@pytest.fixture(scope="module")
def docs(engine):
    return engine.read("documents")


def _cnt(w):
    return F.size(F.filter(tokens("text"), lambda x: x == F.lit(w)))


def test_features_are_l1_normalized(docs):
    f = hashed_features(docs, m_buckets=256)
    sums = f.groupBy("doc_id").agg(F.round(F.sum("x"), 9).alias("s")).collect()
    assert all(abs(r.s - 1.0) < 1e-9 for r in sums)


def test_train_is_deterministic(docs):
    label = _cnt("fast") > _cnt("slow")
    m1 = train_linear_classifier(docs, label, iters=3, lr=400.0).collect()
    m2 = train_linear_classifier(docs, label, iters=3, lr=400.0).collect()
    assert sorted(map(tuple, m1)) == sorted(map(tuple, m2))


def test_train_evaluates_input_once(docs, counted):
    """The label count, the feature pass and every iteration read one
    materialized copy of the input."""
    n = docs.count()
    wrapped, acc = counted(docs)
    train_linear_classifier(wrapped, _cnt("fast") > _cnt("slow"), iters=3, lr=400.0)
    assert acc.value == n


def test_model_artifact_shape(docs):
    label = _cnt("fast") > _cnt("slow")
    model = train_linear_classifier(docs, label, m_buckets=64, iters=2, lr=400.0)
    rows = model.collect()
    buckets = [r.bucket for r in rows]
    assert -1 in buckets  # intercept row
    assert all(-1 <= b < 64 for b in buckets)
    assert len(rows) <= 65


def test_classifier_learns_separation(docs):
    """The label is linear in the feature space (count ratio of two
    tokens), so trained scores must separate the class means."""
    label = _cnt("fast") > _cnt("slow")
    model = train_linear_classifier(docs, label, iters=10, lr=400.0)
    sc = score_with_classifier(docs, model)
    means = {
        bool(r.pos): r.m
        for r in sc.groupBy(label.alias("pos")).agg(F.avg("score").alias("m")).collect()
    }
    assert means[True] > means[False] + 0.05


def test_score_plan_is_jvm_side_with_broadcast(docs):
    label = _cnt("fast") > _cnt("slow")
    model = train_linear_classifier(docs, label, iters=2, lr=400.0)
    sc = score_with_classifier(docs, model)
    plan = sc._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "PythonUDF" not in plan
    assert "BroadcastHashJoin" in plan  # m-row model never shuffles the corpus


def test_docs_without_tokens_score_at_intercept(spark):
    df = spark.createDataFrame(
        [(1, "fast fast slow x"), (2, "slow y"), (3, "")],
        "doc_id int, text string",
    )
    label = _cnt("fast") > _cnt("slow")
    model = train_linear_classifier(df, label, iters=2, lr=10.0)
    rows = {r.doc_id: r.score for r in score_with_classifier(df, model).collect()}
    b0 = float(model.filter("bucket = -1").first().w)
    mg = round(b0, 6)
    expect = round(0.5 + 0.5 * mg / (1 + abs(mg)), 6)
    assert rows[3] == pytest.approx(expect, abs=1e-9)
