"""Command-line entry points mirroring the reference's spark-submit
runners (reconstructed [R src/main/scala/run/runkNN_IS.scala; R
run/runFuzzyKNN.scala], SURVEY.md §3 EP1/EP2):

    spark-submit --class run.runkNN_IS <jar> \\
        <header> <train> <test> <k> <distanceType> \\
        <numMaps> <numReduces> <numIterations> <outPath>

becomes

    python -m big_data_fknn_spark knn   --header H --train T --test E \\
        --k 5 --distance 2 --out OUT
    python -m big_data_fknn_spark fknn  --header H --train T --test E \\
        --k 5 --out OUT

Inputs are KEEL files (header + data, sources/keel.py) or parquet
with (vec_id, emb, label) when --format parquet.  Outputs match the
reference's artifacts: per-row predictions, the confusion matrix,
and a metrics file with accuracy and per-stage wall times — written
as parquet + one JSON, not driver-side text files.  The dropped
numMaps/numReduces/numIterations knobs are owned by AQE and the
kernel's broadcast chunking.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_fknn_spark.api import (
    FuzzyKNNClassifier,
    KNNISClassifier,
    confusion,
    confusion_summary,
)
from big_data_fknn_spark.session import get_spark
from big_data_fknn_spark.sources import read_keel


def _load(
    spark: SparkSession, fmt: str, header: str | None, path: str
) -> DataFrame:
    if fmt == "keel":
        if header is None:
            raise SystemExit("--header is required for KEEL inputs")
        df, _ = read_keel(spark, header, path)
        return df.select(
            F.monotonically_increasing_id().alias("vec_id"),
            F.col("features").alias("emb"),
            "label",
        )
    return spark.read.parquet(path).select("vec_id", "emb", "label")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="big_data_fknn_spark")
    p.add_argument("algo", choices=["knn", "fknn"])
    p.add_argument("--header", help="KEEL header file (KEEL format only)")
    p.add_argument("--train", required=True)
    p.add_argument("--test", required=True)
    p.add_argument("--format", choices=["keel", "parquet"], default="keel")
    p.add_argument("--k", type=int, default=5)
    p.add_argument(
        "--distance", type=int, default=2, help="1=Manhattan, 2=Euclidean"
    )
    p.add_argument("--out", required=True, help="output directory")
    args = p.parse_args(argv)

    # reuse an active session (in-process callers/tests own it);
    # stop only a session this CLI itself created
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"bdfknn-{args.algo}")
    t0 = time.perf_counter()
    train = _load(spark, args.format, args.header, args.train)
    test = _load(spark, args.format, args.header, args.test)
    t_load = time.perf_counter() - t0

    t1 = time.perf_counter()
    clf = KNNISClassifier if args.algo == "knn" else FuzzyKNNClassifier
    pred = clf.setup(train, test, k=args.k, distance_type=args.distance).predict()
    pred.write.mode("overwrite").parquet(f"{args.out}/predictions")
    t_predict = time.perf_counter() - t1

    # pred (every kernel pass) ran once, in that write: the rest reads files
    written = spark.read.parquet(f"{args.out}/predictions")
    confusion(written).write.mode("overwrite").parquet(f"{args.out}/confusion")
    n_test, accuracy = confusion_summary(
        spark.read.parquet(f"{args.out}/confusion").collect()  # ≤ classes² rows
    )

    metrics = {
        "algo": args.algo,
        "k": args.k,
        "distance_type": args.distance,
        "n_test": n_test,
        "accuracy": accuracy,
        "seconds_load": round(t_load, 3),
        "seconds_predict": round(t_predict, 3),
    }
    with open(f"{args.out}/metrics.json", "w") as fh:
        json.dump(metrics, fh, indent=2)
    print(json.dumps(metrics))
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
