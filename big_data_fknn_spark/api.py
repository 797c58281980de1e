"""Reference-compatible classifier API.

The reference exposes a library entry point (reconstructed [R
src/main/scala/kNN_IS.scala; R FuzzyKNN.scala]; EP3 in SURVEY.md §3):

    kNN_IS.setup(train, test, k, distanceType, numClass, numFeatures,
                 numMaps, numReduces, numIterations, maxWeight)
           .predict(sc)

A user migrating from the reference keeps the same call shape here;
the RDD-era knobs disappear because the engine owns them now:
``numMaps/numReduces`` → AQE partition sizing, ``numIterations/
maxWeight`` → automatic broadcast chunking inside knn_join_blas,
``numClass/numFeatures`` → read from the data.  ``distance_type``
keeps the reference's encoding: 1 = Manhattan, 2 = Euclidean.

Inputs are DataFrames with columns ``(id, features: array<double>,
label)`` — use sources/keel.read_keel for KEEL files or
tables.train_test_split for the testdata.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_fknn_spark.operators.fknn import fknn_classify, keller_memberships
from big_data_fknn_spark.operators.knn import knn_join_blas

_METRIC = {1: "manhattan", 2: "euclidean"}


def _norm(df: DataFrame, id_col: str, feat_col: str, label_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(feat_col).alias("emb"),
        F.col(label_col).alias("label"),
    )


def confusion(pred: DataFrame) -> DataFrame:
    """(label, pred, n) counts of a ``(label, pred)`` prediction frame."""
    return pred.groupBy("label", "pred").agg(F.count(F.lit(1)).alias("n"))


def confusion_summary(rows) -> tuple[int, float | None]:
    """``(n_test, accuracy)`` from collected confusion rows: n_test
    counts every row, accuracy averages label = pred over the rows
    where both are non-NULL (SQL AVG; None when there are none)."""
    scored = [r for r in rows if r["label"] is not None and r["pred"] is not None]
    n_scored = sum(r["n"] for r in scored)
    hits = sum(r["n"] for r in scored if r["label"] == r["pred"])
    return sum(r["n"] for r in rows), hits / n_scored if n_scored else None


@dataclass
class KNNISClassifier:
    """Crisp kNN with majority vote — the reference's runkNN_IS EP."""

    train: DataFrame
    test: DataFrame
    k: int
    metric: str

    @classmethod
    def setup(
        cls,
        train: DataFrame,
        test: DataFrame,
        k: int = 5,
        distance_type: int = 2,
        id_col: str = "vec_id",
        features_col: str = "emb",
        label_col: str = "label",
    ) -> "KNNISClassifier":
        return cls(
            train=_norm(train, id_col, features_col, label_col),
            test=_norm(test, id_col, features_col, label_col),
            k=k,
            metric=_METRIC[distance_type],
        )

    def _votes(self) -> DataFrame:
        """(vec_id, label, cls, cnt): neighbor-class counts per test point."""
        knn = knn_join_blas(
            self.test,
            self.train,
            k=self.k,
            metric=self.metric,
            keep_q_cols=("label",),
            keep_c_cols=("label",),
        )
        return knn.groupBy(
            F.col("q_id").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.col("n_label").alias("cls"),
        ).agg(F.count(F.lit(1)).alias("cnt"))

    def predict(self) -> DataFrame:
        """(vec_id, label, pred) — deterministic vote: max neighbor
        count, ties to the smallest class id (SURVEY.md §7.3)."""
        pick = Window.partitionBy("vec_id").orderBy(
            F.col("cnt").desc(), F.col("cls").asc()
        )
        return (
            self._votes()
            .withColumn("r", F.row_number().over(pick))
            .where(F.col("r") == 1)
            .select("vec_id", "label", F.col("cls").alias("pred"))
        )

    def confusion_matrix(self) -> DataFrame:
        """(label, pred, n) — the reference driver's numClass² matrix,
        kept distributed ([R runFuzzyKNN.scala] collects it)."""
        return confusion(self.predict())

    def accuracy(self) -> float | None:
        return confusion_summary(self.confusion_matrix().collect())[1]

    def auc(self) -> DataFrame:
        """(cls, auc) one-vs-rest tie-aware AUC over the vote scores,
        plus the macro average as cls = -1 — the reference driver's
        second headline metric ([R runFuzzyKNN.scala] via
        BinaryClassificationMetrics; operators/metrics.py)."""
        from big_data_fknn_spark.operators.metrics import (
            dense_vote_scores,
            ovr_auc,
        )

        votes = self._votes().withColumnRenamed("vec_id", "q")
        classes = self.train.select(F.col("label").alias("cls")).distinct()
        return ovr_auc(dense_vote_scores(votes, classes))


@dataclass
class FuzzyKNNClassifier:
    """Two-stage exact Fuzzy kNN (GE-FkNN, [P FkNN-BD]) — the
    reference's runFuzzyKNN EP.  m is fixed at 2 (the papers'
    setting; the weight is then 1/d²)."""

    train: DataFrame
    test: DataFrame
    k: int
    metric: str

    @classmethod
    def setup(
        cls,
        train: DataFrame,
        test: DataFrame,
        k: int = 5,
        distance_type: int = 2,
        id_col: str = "vec_id",
        features_col: str = "emb",
        label_col: str = "label",
    ) -> "FuzzyKNNClassifier":
        if _METRIC[distance_type] != "euclidean":
            raise ValueError(
                "fuzzy stage-2 weights follow the papers' euclidean form"
            )
        return cls(
            train=_norm(train, id_col, features_col, label_col),
            test=_norm(test, id_col, features_col, label_col),
            k=k,
            metric=_METRIC[distance_type],
        )

    def memberships(self) -> DataFrame:
        """Stage 1: sparse (vec_id, cls, u) Keller membership table."""
        return keller_memberships(self.train, k=self.k)

    def predict(self) -> DataFrame:
        """Stage 2: (vec_id, label, pred, conf)."""
        return fknn_classify(
            self.test, self.train, self.memberships(), k=self.k
        )
