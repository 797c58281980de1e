"""Exact distributed Fuzzy k-Nearest-Neighbors (the reference's flagship).

Two-stage GE-FkNN (Maillo, Luengo, García, Herrera, Triguero, "Exact
fuzzy k-nearest neighbor classification for big datasets",
FUZZ-IEEE 2017; Keller, Gray, Givens, IEEE SMC 1985; reconstructed
reference surface [R src/main/scala/FuzzyKNN.scala]):

Stage 1 — class membership degrees (CMD): leave-one-out kNN of the
training set against itself; Keller init per train point i of class
c_i with n_j of its k neighbors in class j:

    u_j(i) = 0.51 + 0.49·(n_j/k)   if j == c_i
           = 0.49·(n_j/k)          otherwise

Stage 2 — fuzzy classification: kNN of test vs train; each neighbor
votes its membership vector weighted by w = 1/d^(2/(m-1)) (m=2 ⇒
1/d²); normalized class scores u_q(j) = Σ w·u_n(j) / Σ w;
prediction = argmax_j (ties → smallest class id).

Each stage is one pass of the Arrow BLAS kNN kernel
(operators/knn.py ``knn_join_blas``, a ``mapInPandas`` over the
candidates with the labels riding the kernel) and one shuffle: the
top-k window's ``q_id`` exchange, which the stage's aggregates reuse
(stage 2's membership join keeps it when the planner broadcasts the
membership table).
The neighbor sets are exactly the sequential algorithm's (the papers'
"exactness" property carries over because the top-k is global).

Memberships are kept in sparse long format ``(vec_id, cls, u)`` —
rows only for classes a point has evidence for — which at 100 TB
avoids a dense numClasses-wide matrix and keeps the stage-2 join a
plain shuffled equi-join on the neighbor id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_fknn_spark.operators.knn import knn_join_blas

EPS = 1e-12  # guards w = 1/d² against duplicate points (d = 0)


def keller_memberships(train: DataFrame, k: int = 5) -> DataFrame:
    """Stage 1: sparse membership table ``(vec_id, cls, u)``.

    ``train`` needs columns (vec_id, emb: array<double>, label).  A
    point with no neighbor at all (one-row train set) gets no row;
    stage 2 gives it its own class at u = 0.51.
    """
    knn = knn_join_blas(
        train,
        train,
        k=k,
        exclude_self=True,
        keep_q_cols=("label",),
        keep_c_cols=("label",),
    )
    # One aggregation, on the top-k window's q_id partitioning: every
    # neighbor row counts its class, and each point's rank-1 row also
    # emits a zero for the point's own class, so the own-class row
    # exists even with no same-class neighbor (u = 0.51).
    labels = F.when(F.col("rn") == 1, F.array("n_label", "q_label")).otherwise(
        F.array("n_label")
    )
    counts = (
        knn.select(
            F.col("q_id").alias("vec_id"),
            F.col("q_label").alias("own"),
            F.posexplode(labels).alias("pos", "cls"),
        )
        .groupBy("vec_id", "own", "cls")
        .agg(F.count(F.when(F.col("pos") == 0, 1)).alias("cnt"))
    )
    u = F.when(
        F.col("cls") == F.col("own"),
        0.51 + 0.49 * F.col("cnt") / F.lit(float(k)),
    ).otherwise(0.49 * F.col("cnt") / F.lit(float(k)))
    return counts.select("vec_id", "cls", u.alias("u"))


def fuzzy_scores(
    test: DataFrame,
    train: DataFrame,
    memberships: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Stage-2 class scores ``(q_id, q_label, cls, u_norm, rnk)``: the
    normalized fuzzy membership of each evidenced class per test point,
    ``rnk`` ranking a point's classes by (u_norm desc, cls)."""
    knn = knn_join_blas(test, train, k=k, keep_q_cols=("label",), keep_c_cols=("label",))
    knn = knn.withColumn(
        "w", F.lit(1.0) / F.greatest(F.col("dist") * F.col("dist"), F.lit(EPS))
    )
    # total weight per query: a window sum over the q_id partitioning
    # the top-k window established (no exchange, unlike a groupBy joined
    # back), adding the k weights in (dist, n_id) order
    wq = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("n_id").asc())
    knn = knn.withColumn(
        "tw", F.sum("w").over(wq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    )
    scores = (
        knn.join(memberships, knn.n_id == memberships.vec_id, "left")
        .groupBy("q_id", "q_label", F.coalesce("cls", "n_label").alias("cls"), "tw")
        .agg(F.sum(F.col("w") * F.coalesce("u", F.lit(0.51))).alias("s"))
        .withColumn("u_norm", F.col("s") / F.col("tw"))
    )
    pick = Window.partitionBy("q_id").orderBy(F.col("u_norm").desc(), F.col("cls").asc())
    return scores.withColumn("rnk", F.row_number().over(pick))


def fknn_classify(
    test: DataFrame,
    train: DataFrame,
    memberships: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Stage 2: ``(vec_id, label, pred, conf)`` per test point.

    conf = the winning class's normalized fuzzy membership, rounded
    to 6 decimals for cross-engine hash stability (SURVEY.md §7.1).
    """
    return (
        fuzzy_scores(test, train, memberships, k=k)
        .where(F.col("rnk") == 1)
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.col("cls").alias("pred"),
            F.round("u_norm", 6).alias("conf"),
        )
    )


def fknn_pipeline(train: DataFrame, test: DataFrame, k: int = 5) -> DataFrame:
    """Full two-stage FkNN: stage-1 memberships feed stage-2 voting."""
    memb = keller_memberships(train, k=k)
    return fknn_classify(test, train, memb, k=k)
