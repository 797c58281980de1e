"""CLI entry points (the reference's spark-submit runners): run both
algorithms in-process over KEEL and parquet inputs and check the
emitted artifacts — predictions, confusion matrix, metrics.json."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F

from big_data_fknn_spark.cli import main
from big_data_fknn_spark.sources import write_keel
from big_data_fknn_spark.tables import train_test_split

SF_DIR = "/root/testdata/sf0.001"


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def kernel_executions(spark, argv) -> int:
    """Run ``main(argv)`` and count the SQL executions it started whose
    plan holds the ``MapInPandas`` kNN kernel (read from the SQL status
    store, which works with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsCount()
    main(argv)
    return sum(
        any(n.name() == "MapInPandas" for n in _seq(store.planGraph(ex.executionId()).allNodes()))
        for ex in _seq(store.executionsList(first, 1 << 30))
    )


def test_knn_cli_parquet(spark, tmp_path):
    train, test = train_test_split(spark, SF_DIR)
    train.write.parquet(f"{tmp_path}/train")
    test.write.parquet(f"{tmp_path}/test")
    out = f"{tmp_path}/out"
    argv = [
        "knn",
        "--format", "parquet",
        "--train", f"{tmp_path}/train",
        "--test", f"{tmp_path}/test",
        "--k", "5",
        "--distance", "1",
        "--out", out,
    ]
    assert kernel_executions(spark, argv) == 1
    m = json.load(open(f"{out}/metrics.json"))
    assert m["n_test"] == test.count()
    pred = spark.read.parquet(f"{out}/predictions")
    assert pred.columns == ["vec_id", "label", "pred"]
    assert pred.count() == m["n_test"]
    conf = spark.read.parquet(f"{out}/confusion")
    assert conf.agg(F.sum("n")).first()[0] == m["n_test"]


def test_fknn_cli_keel(spark):
    train, test = train_test_split(spark, SF_DIR)
    d = tempfile.mkdtemp(prefix="cli_keel_")
    for name, df in (("train", train), ("test", test)):
        write_keel(
            df.select(
                F.col("emb").alias("features"),
                F.col("label").cast("double").alias("label"),
            ),
            f"{d}/{name}.header",
            f"{d}/{name}.dat",
        )
    argv = [
        "fknn",
        "--header", f"{d}/train.header",
        "--train", f"{d}/train.dat",
        "--test", f"{d}/test.dat",
        "--k", "5",
        "--out", f"{d}/out",
    ]
    # both kernel passes (stage 1 and stage 2) run in one execution
    assert kernel_executions(spark, argv) == 1
    m = json.load(open(f"{d}/out/metrics.json"))
    assert m["algo"] == "fknn" and m["n_test"] == 100
    pred = spark.read.parquet(f"{d}/out/predictions")
    assert set(pred.columns) == {"vec_id", "label", "pred", "conf"}


def test_fknn_cli_parquet_null_label_metrics(spark, tmp_path):
    """A NULL-label test row is predicted and counted in n_test, but
    left out of the accuracy average (SQL AVG of label = pred)."""
    train, test = train_test_split(spark, SF_DIR)
    first = test.agg(F.min("vec_id")).first()[0]
    test = test.withColumn(
        "label", F.when(F.col("vec_id") != first, F.col("label"))
    )
    train.write.parquet(f"{tmp_path}/train")
    test.write.parquet(f"{tmp_path}/test")
    out = f"{tmp_path}/out"
    argv = [
        "fknn",
        "--format", "parquet",
        "--train", f"{tmp_path}/train",
        "--test", f"{tmp_path}/test",
        "--k", "5",
        "--out", out,
    ]
    assert kernel_executions(spark, argv) == 1
    m = json.load(open(f"{out}/metrics.json"))
    pred = spark.read.parquet(f"{out}/predictions")
    want = pred.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.avg((F.col("label") == F.col("pred")).cast("double")).alias("acc"),
    ).first()
    assert pred.where(F.col("label").isNull()).count() == 1
    assert m["n_test"] == want["n_test"] == 100
    assert m["accuracy"] == want["acc"]
    scored = pred.where(F.col("label").isNotNull())
    assert m["accuracy"] == scored.where(F.col("label") == F.col("pred")).count() / 99
