"""SURVEY.md §2.J — the reference's own algorithm surface as queries.

j1 crisp kNN, j2/j3 two-stage fuzzy kNN, j4 pluggable distance
metrics, j5 min-max normalization, j6 seeded split.  Each Spark plan
is a composition of library operators (operators/knn.py,
operators/fknn.py); each oracle is the same algorithm spelled in
DuckDB ANSI SQL over the identical parquet inputs.

K=5 matches the reference papers' smallest evaluated k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_fknn_spark.functions.distance import cosine_sim, euclidean, manhattan
from big_data_fknn_spark.operators.fknn import (
    fknn_pipeline,
    fuzzy_scores,
    keller_memberships,
)
from big_data_fknn_spark.operators.knn import knn_join_blas
from big_data_fknn_spark.cache import cached
from big_data_fknn_spark.queries import register
from big_data_fknn_spark.tables import EMB_ADMIT_SQL, embeddings_d, train_test_split

K = 5

# Shared oracle CTEs: widen float32 → double (exact), deterministic
# 80/20 split on vec_id — bit-identical inputs in both engines.  The
# WHERE mirrors the Spark-side vector admission contract
# (tables.EMB_ADMIT_SQL: 64-dim, finite, non-zero).
EMB_CTES = f"""
emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
        WHERE {EMB_ADMIT_SQL}),
train AS (SELECT * FROM emb WHERE vec_id % 5 <> 0 AND label IS NOT NULL),
test AS (SELECT * FROM emb WHERE vec_id % 5 = 0)
"""

# Stage-1 (class membership degrees) CTE chain, reused by j2 and j3.
STAGE1_CTES = f"""
p1 AS (
  SELECT a.vec_id AS q, a.label AS own, b.vec_id AS n, b.label AS n_label,
         list_distance(a.emb, b.emb) AS d
  FROM train a CROSS JOIN train b
  WHERE a.vec_id <> b.vec_id
),
k1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM p1
  ) WHERE rn <= {K}
),
counts AS (
  SELECT q AS vec_id, own, n_label AS cls, count(*) AS cnt
  FROM k1 GROUP BY 1, 2, 3
),
base AS (
  SELECT vec_id, own, cls, cnt FROM counts
  UNION ALL
  SELECT vec_id, label, label, 0 FROM train
),
agg AS (SELECT vec_id, own, cls, sum(cnt) AS cnt FROM base GROUP BY 1, 2, 3),
memb AS (
  SELECT vec_id AS mv, cls,
         CASE WHEN cls = own THEN 0.51 + 0.49 * cnt / {K}.0
              ELSE 0.49 * cnt / {K}.0 END AS u
  FROM agg
)
"""


@register(
    "j1_knn_crisp",
    oracle=f"""
WITH {EMB_CTES},
pairs AS (
  SELECT t.vec_id AS q, t.label AS label, r.vec_id AS n, r.label AS n_label,
         list_distance(t.emb, r.emb) AS d
  FROM test t CROSS JOIN train r
),
knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM pairs
  ) WHERE rn <= {K}
),
votes AS (SELECT q, label, n_label AS cls, count(*) AS cnt FROM knn GROUP BY 1, 2, 3),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY cnt DESC, cls) AS r FROM votes
)
SELECT q AS vec_id, label, cls AS pred FROM pick WHERE r = 1
""",
)
def j1_knn_crisp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crisp kNN majority vote (reference EP1, [R kNN_IS.scala]).

    Deterministic vote: max count, ties → smallest class id
    (SURVEY.md §7.3 — never engine mode()).
    """
    train, test = train_test_split(spark, sf_dir)
    knn = knn_join_blas(
        test, train, k=K, keep_q_cols=("label",), keep_c_cols=("label",)
    )
    votes = knn.groupBy(
        F.col("q_id").alias("vec_id"),
        F.col("q_label").alias("label"),
        F.col("n_label").alias("cls"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    pick = Window.partitionBy("vec_id").orderBy(F.col("cnt").desc(), F.col("cls").asc())
    return (
        votes.withColumn("r", F.row_number().over(pick))
        .where(F.col("r") == 1)
        .select("vec_id", "label", F.col("cls").alias("pred"))
    )


@register(
    "j2_fknn_stage1",
    oracle=f"""
WITH {EMB_CTES},
{STAGE1_CTES}
SELECT mv AS vec_id, cls, round(u, 6) AS u FROM memb
""",
)
def j2_fknn_stage1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 class membership degrees (leave-one-out kNN + Keller init)."""
    train, _ = train_test_split(spark, sf_dir)
    memb = keller_memberships(train, k=K)
    return memb.select("vec_id", "cls", F.round("u", 6).alias("u"))


@register(
    "j3_fknn_stage2",
    oracle=f"""
WITH {EMB_CTES},
{STAGE1_CTES},
p2 AS (
  SELECT t.vec_id AS q, t.label AS label, r.vec_id AS n,
         list_distance(t.emb, r.emb) AS d
  FROM test t CROSS JOIN train r
),
k2 AS (
  SELECT *, 1.0 / greatest(d * d, 1e-12) AS w FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM p2
  ) WHERE rn <= {K}
),
totw AS (SELECT q, sum(w) AS tw FROM k2 GROUP BY q),
scores AS (
  SELECT k2.q, k2.label, m.cls, sum(k2.w * m.u) AS s
  FROM k2 JOIN memb m ON m.mv = k2.n GROUP BY 1, 2, 3
),
final AS (
  SELECT s.q, s.label, s.cls, s.s / t.tw AS u_norm,
         row_number() OVER (PARTITION BY s.q ORDER BY s.s / t.tw DESC, s.cls) AS rnk
  FROM scores s JOIN totw t ON s.q = t.q
)
SELECT q AS vec_id, label, cls AS pred, round(u_norm, 6) AS conf
FROM final WHERE rnk = 1
""",
)
def j3_fknn_stage2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full two-stage fuzzy kNN classification — the flagship query."""
    train, test = train_test_split(spark, sf_dir)
    return fknn_pipeline(train, test, k=K)


@register(
    "j4_dist_metrics",
    oracle=f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
             WHERE {EMB_ADMIT_SQL}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.emb AS ea, b.emb AS eb
  FROM emb a CROSS JOIN emb b
  WHERE a.vec_id % 25 = 0 AND b.vec_id % 25 = 0 AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       round(list_distance(ea, eb), 6) AS eucl,
       round(list_sum(list_transform(list_zip(ea, eb), p -> abs(p[1] - p[2]))), 6) AS manh,
       round(list_cosine_similarity(ea, eb), 6) AS cos_sim
FROM pairs
""",
)
def j4_dist_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable metrics (reference [R utils/Distance.scala] + cosine ext)."""
    emb = embeddings_d(spark, sf_dir).where(F.col("vec_id") % 25 == 0)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("eb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(euclidean(F.col("ea"), F.col("eb")), 6).alias("eucl"),
        F.round(manhattan(F.col("ea"), F.col("eb")), 6).alias("manh"),
        F.round(cosine_sim(F.col("ea"), F.col("eb")), 6).alias("cos_sim"),
    )


@register(
    "j5_normalize",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS x
  FROM embeddings CROSS JOIN range(1, 65) AS r(i)
  WHERE {EMB_ADMIT_SQL}
),
stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos)
SELECT ex.vec_id, ex.pos,
       round((ex.x - s.mn) / (s.mx - s.mn), 6) AS xnorm
FROM ex JOIN stats s ON ex.pos = s.pos
WHERE ex.vec_id % 10 = 0
""",
)
def j5_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max normalization from global ranges ([R KeelParser] ranges).

    Long format (vec_id, pos, xnorm); pos is 1-based to match SQL
    array indexing.  The per-dimension stats table is tiny (64 rows)
    → broadcast join back onto the exploded fact.
    """
    emb = embeddings_d(spark, sf_dir)
    ex = emb.select(
        "vec_id", F.posexplode("emb").alias("pos0", "x")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "x")
    stats = ex.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return (
        ex.where(F.col("vec_id") % 10 == 0)
        .join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            "pos",
            F.round((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6).alias("xnorm"),
        )
    )


@register("j6_split", oracle=None)  # engine-specific RNG → rows-only check
def j6_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded randomSplit (reference uses separate files; we demo the API)."""
    emb = embeddings_d(spark, sf_dir)
    tr, te = emb.randomSplit([0.8, 0.2], seed=42)
    return tr.select(F.lit("train").alias("part"), "vec_id").unionByName(
        te.select(F.lit("test").alias("part"), "vec_id")
    )


@register(
    "j25_kfold_cv",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, label, vec_id % 5 AS fold
  FROM embeddings WHERE label IS NOT NULL AND {EMB_ADMIT_SQL}
),
p AS (
  SELECT a.vec_id AS q, a.fold AS fold, a.label AS label,
         b.vec_id AS n, b.label AS n_label, list_distance(a.emb, b.emb) AS d
  FROM emb a JOIN emb b ON a.fold <> b.fold
),
k AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM p
  ) WHERE rn <= {K}
),
votes AS (
  SELECT q, fold, label, n_label AS cls, count(*) AS cnt FROM k GROUP BY 1, 2, 3, 4
),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY cnt DESC, cls) AS r FROM votes
),
pred AS (SELECT q, fold, label, cls AS pred FROM pick WHERE r = 1)
SELECT fold,
       count(*) AS n_test,
       CAST(sum(CAST(label = pred AS INT)) AS BIGINT) AS n_correct,
       round(avg(CAST(label = pred AS DOUBLE)), 6) AS accuracy
FROM pred GROUP BY fold
""",
)
def j25_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated crisp kNN — the KEEL evaluation loop the
    reference lineage reports results with (per-fold tra/tst files,
    [R runkNN_IS.scala CLI args; P kNN-IS SS4 experimental setup]),
    as a single deterministic query.

    Folds are ``vec_id % 5`` (reproducible in both engines, unlike
    randomSplit).  Each fold's test points classify against the other
    four folds via the broadcast-queries BLAS kernel — five
    independent kNN passes whose union is one job, exactly the
    reference's iterative chunk scheme.  The candidate table is
    cached once and never shuffles; at 100 TB each pass streams the
    train side and only k rows per query leave each executor.

    Vote tiebreak: max count, then smallest class id (never engine
    ``mode()`` — SURVEY.md SS7.3).
    """
    # labeled rows only: unlabeled vectors can neither vote nor be
    # scored, and a NULL vote class makes the argmax tiebreak
    # engine-dependent (no-op on the clean testdata)
    emb = (
        embeddings_d(spark, sf_dir)
        .where(F.col("label").isNotNull())
        .withColumn("fold", F.col("vec_id") % 5)
    )
    cached(emb)
    per_fold = [
        knn_join_blas(
            emb.where(F.col("fold") == f_id),
            emb.where(F.col("fold") != f_id),
            k=K,
            keep_q_cols=("label",),
            keep_c_cols=("label",),
        )
        for f_id in range(5)
    ]
    knn = per_fold[0]
    for part in per_fold[1:]:
        knn = knn.unionByName(part)
    votes = knn.groupBy(
        F.col("q_id").alias("q"),
        (F.col("q_id") % 5).alias("fold"),
        F.col("q_label").alias("label"),
        F.col("n_label").alias("cls"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    pick = Window.partitionBy("q").orderBy(F.col("cnt").desc(), F.col("cls").asc())
    pred = (
        votes.withColumn("r", F.row_number().over(pick))
        .where(F.col("r") == 1)
        .select("q", "fold", "label", F.col("cls").alias("pred"))
    )
    hit = (F.col("label") == F.col("pred")).cast("int")
    return pred.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(hit).cast("bigint").alias("n_correct"),
        F.round(F.avg(hit.cast("double")), 6).alias("accuracy"),
    )


# --------------------------- J29. Lloyd k-means (iterative, DataFrame-only)

_KM_K = 8
_KM_ASSIGN_SQL = """
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, {cents}.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(list_zip(e.v, {cents}.c),
                                              p -> (p[1]-p[2])*(p[1]-p[2]))),
                      {cents}.cid
           ) AS rn
    FROM e CROSS JOIN {cents}
  ) WHERE rn = 1
"""


@register(
    "j29_kmeans_lloyd",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {EMB_ADMIT_SQL}),
c0 AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT {_KM_K}),
a1 AS ({_KM_ASSIGN_SQL.format(cents="c0")}),
m1 AS (
  SELECT cid, j AS pos,
         round(sum(CAST(v[j] AS DECIMAL(38,10)))::VARCHAR::DOUBLE / count(*), 12) AS m
  FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j)
  GROUP BY cid, j
),
c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid),
a2 AS ({_KM_ASSIGN_SQL.format(cents="c1")})
SELECT vec_id, cid FROM a2
""",
)
def j29_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means, two unrolled iterations, pure DataFrame ops —
    the iterative-ML shape the reference's RDD lineage hand-rolled,
    declared instead as assign→recenter plan segments (k=8,
    deterministic init = the k lowest vec_ids).

    Determinism across engines: centroid means are exact-decimal
    sums rounded to 12dp BEFORE feeding the next iteration, so both
    engines assign against bit-identical centers; argmin ties break
    by centroid id.  Scale shape per iteration: centers broadcast
    (k×dim doubles), assignment is a scan + WindowGroupLimit-style
    per-key argmin, recenter is a (cid, dim)-keyed partial agg —
    k·dim groups in the shuffle regardless of corpus size.  More
    iterations = more plan segments; checkpoint every ~10 to cut
    lineage, exactly like MLlib's own KMeans driver loop.
    """

    def assign(e: DataFrame, cents: DataFrame) -> DataFrame:
        p = e.crossJoin(F.broadcast(cents))
        d2 = F.aggregate(
            F.zip_with("emb", "cvec", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cid").asc())
        return (
            p.select("vec_id", "emb", "cid", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "emb", "cid")
        )

    def recenter(assigned: DataFrame) -> DataFrame:
        from big_data_fknn_spark.functions.numeric import DEC

        m = (
            assigned.select("cid", F.posexplode("emb").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)),
                    12,
                ).alias("m")
            )
        )
        return m.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cvec")
        )

    e = embeddings_d(spark, sf_dir).select("vec_id", "emb")
    c0 = (
        e.orderBy("vec_id")
        .limit(_KM_K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cvec"))
    )
    a1 = assign(e, c0)
    c1 = recenter(a1)
    a2 = assign(e, c1)
    return a2.select("vec_id", "cid")


@register(
    "j41_knn_regression",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, embedding[2:64]::DOUBLE[] AS x, embedding[1]::DOUBLE AS y
  FROM embeddings WHERE {EMB_ADMIT_SQL}
),
train AS (SELECT * FROM emb WHERE vec_id % 5 <> 0),
test  AS (SELECT * FROM emb WHERE vec_id % 5 = 0),
pairs AS (
  SELECT t.vec_id AS q, t.y AS y_actual, r.vec_id AS n, r.y AS n_y,
         list_distance(t.x, r.x) AS d
  FROM test t CROSS JOIN train r
),
knn AS (
  SELECT *, 1.0 / greatest(d * d, 1e-12) AS w FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM pairs
  ) WHERE rn <= {K}
)
SELECT q AS vec_id,
       round(y_actual, 6)              AS y_actual,
       round(avg(n_y), 6)              AS pred_mean,
       round(sum(w * n_y) / sum(w), 6) AS pred_idw
FROM knn GROUP BY q, y_actual
""",
)
def j41_knn_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN regression — predict a masked feature (dim 1) of each test
    vector from its k nearest train neighbors over the remaining 63
    dims.  Two estimators: plain neighbor mean and inverse-distance
    weighting (w = 1/d², the Keller stage-2 weight family with m=2) —
    the regression twin of the reference's classifier ([P kNN-IS §2]
    notes the same skeleton serves regression by swapping the vote
    for an average).

    Same physical shape as j1: broadcast-chunked BLAS kernel streams
    the train side, WindowGroupLimit-style partial top-k, one
    (q_id)-keyed agg.  Nothing new moves at 100 TB."""
    emb = embeddings_d(spark, sf_dir).select(
        "vec_id",
        F.slice("emb", 2, 63).alias("x"),
        F.element_at("emb", 1).alias("y"),
    )
    train = emb.where(F.col("vec_id") % 5 != 0)
    test = emb.where(F.col("vec_id") % 5 == 0)
    knn = knn_join_blas(
        test,
        train,
        k=K,
        q_cols=("vec_id", "x"),
        c_cols=("vec_id", "x"),
        keep_q_cols=("y",),
        keep_c_cols=("y",),
    )
    w = 1.0 / F.greatest(F.col("dist") * F.col("dist"), F.lit(1e-12))
    return (
        knn.groupBy(
            F.col("q_id").alias("vec_id"), F.round("q_y", 6).alias("y_actual")
        )
        .agg(
            F.round(F.avg("n_y"), 6).alias("pred_mean"),
            F.round(F.sum(w * F.col("n_y")) / F.sum(w), 6).alias("pred_idw"),
        )
    )


@register(
    "j43_enn_wilson",
    oracle=f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
             FROM embeddings
             WHERE label IS NOT NULL AND {EMB_ADMIT_SQL}),
p AS (
  SELECT a.vec_id AS q, a.label AS label, b.vec_id AS n, b.label AS n_label,
         list_distance(a.emb, b.emb) AS d
  FROM emb a CROSS JOIN emb b WHERE a.vec_id <> b.vec_id
),
k AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM p
  ) WHERE rn <= {K}
),
votes AS (SELECT q, label, n_label AS cls, count(*) AS cnt FROM k GROUP BY 1, 2, 3),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY q ORDER BY cnt DESC, cls) AS r FROM votes
)
SELECT q AS vec_id, label, cls AS pred,
       CAST(label = cls AS INT) AS kept
FROM pick WHERE r = 1
""",
)
def j43_enn_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson Edited Nearest Neighbor instance selection: every point
    is classified by its k nearest OTHER points (leave-one-out, the
    j2 theta-join shape); points the vote misclassifies are marked
    for removal (kept=0).  This is the reference lineage's data-
    preprocessing companion (the Granada group pairs kNN-IS with
    distributed instance selection — Triguero et al., *MRPR / evolu-
    tionary instance selection for big data*); ENN is its simplest
    deterministic member, so it is fully value-oracled.

    Scale: identical dataflow to j1 with queries == candidates —
    chunked broadcast of the query side, candidates never shuffle
    before the kernel, k rows per point leave each executor.  The
    edited corpus is the kept=1 slice; downstream kNN over it is
    strictly cheaper."""
    # ENN edits a LABELED corpus: unlabeled rows can't vote and have
    # no keep/remove identity (no-op on the clean testdata)
    emb = embeddings_d(spark, sf_dir).where(F.col("label").isNotNull())
    knn = knn_join_blas(
        emb,
        emb,
        k=K,
        exclude_self=True,
        keep_q_cols=("label",),
        keep_c_cols=("label",),
    )
    votes = knn.groupBy(
        F.col("q_id").alias("vec_id"),
        F.col("q_label").alias("label"),
        F.col("n_label").alias("cls"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    pick = Window.partitionBy("vec_id").orderBy(F.col("cnt").desc(), F.col("cls").asc())
    return (
        votes.withColumn("r", F.row_number().over(pick))
        .where(F.col("r") == 1)
        .select(
            "vec_id",
            "label",
            F.col("cls").alias("pred"),
            (F.col("label") == F.col("cls")).cast("int").alias("kept"),
        )
    )


@register("j36_mllib_pipeline", oracle=None)  # iterative LBFGS → rows-only
def j36_mllib_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's north star verbatim: an MLlib *Pipeline* over
    DataFrames — array column → Vector (array_to_vector, zero-copy
    per row), StandardScaler fit on train, multinomial logistic
    regression, transform on the held-out split, per-(label, pred)
    counts.  Training is treeAggregate gradient passes (the same
    partial+final shape as every agg here); prediction is one
    broadcast of the coefficient matrix — embarrassingly parallel at
    any scale.  LBFGS converges engine-side → rows-only check.

    Zero admitted training rows → empty result with the declared
    schema: MLlib fit() throws on an empty dataset, and "no model, no
    predictions" is the only defined answer (round-8 empty smoke)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler
    from pyspark.ml.functions import array_to_vector

    train, test = train_test_split(spark, sf_dir)
    if train.isEmpty():
        return spark.createDataFrame([], "label int, pred int, n bigint")
    to_vec = lambda df: df.select(  # noqa: E731
        "vec_id", "label", array_to_vector("emb").alias("features_raw")
    )
    pipe = Pipeline(
        stages=[
            StandardScaler(
                inputCol="features_raw", outputCol="features", withMean=True
            ),
            LogisticRegression(
                maxIter=25, regParam=0.01, family="multinomial", tol=1e-7
            ),
        ]
    )
    model = pipe.fit(to_vec(train))
    return (
        model.transform(to_vec(test))
        .groupBy("label", F.col("prediction").cast("int").alias("pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("j37_brp_lsh", oracle=None)  # MLlib seeded hyperplanes → rows-only
def j37_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH — the euclidean-distance ANN scale
    path promised in SURVEY §2 j9 (MinHashLSH covers Jaccard in j8e).
    Vectors hash into buckets by quantized random projections;
    approxSimilarityJoin only compares bucket collisions, so join
    work scales with collision mass, not |corpus|².  Seeded → stable
    per engine build, but hyperplanes are engine-internal → rows-only
    (j8d is the oracled exact twin on the same threshold family).

    The admitted frame is MATERIALIZED (localCheckpoint) before the
    LSH stage: predicate codegen's common-subexpression elimination
    hoists the model's hash UDF out of the conjunction (`subExpr_0$`
    evaluates unconditionally), so the vector-admission filter in the
    same plan cannot shield it — a zero-length vector crashed the UDF
    ("A: 64, x: 0") straight through the gate on the round-8 extremes
    smoke.  A checkpoint is a hard boundary: downstream plans simply
    never see non-conforming rows."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = (
        embeddings_d(spark, sf_dir)
        .select("vec_id", array_to_vector("emb").alias("features"))
        .localCheckpoint(eager=True)
    )
    if emb.isEmpty():
        # no admitted vectors → no hyperplane fit, no pairs (MLlib
        # fit() throws "head of empty array" — round-8 empty smoke)
        return spark.createDataFrame([], "a long, b long, dist double")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=1.0,
        numHashTables=3,
        seed=42,
    )
    model = lsh.fit(emb)
    # Threshold 1.2 ≈ the 0.5% quantile of the pairwise-distance
    # distribution (64-dim near-orthogonal vectors: median 1.41) —
    # selects genuinely-near pairs instead of everything.
    pairs = model.approxSimilarityJoin(emb, emb, 1.2, distCol="dist")
    return (
        pairs.where(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("a"),
            F.col("datasetB.vec_id").alias("b"),
            F.round("dist", 6).alias("dist"),
        )
        .orderBy("a", "b")
    )


@register(
    "j45_linreg_ols",
    oracle="""
WITH d AS (
  SELECT lang,
         len(string_split(text, ' '))::DOUBLE AS x,
         n_chars::DOUBLE AS y
  FROM documents WHERE text <> ''
)
SELECT lang,
       count(*) AS n,
       round(covar_pop(x, y) / var_pop(x), 6) AS slope,
       round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 6) AS intercept,
       round(corr(x, y) * corr(x, y), 6) AS r2
FROM d GROUP BY lang
""",
)
def j45_linreg_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least-squares regression per group (n_chars ~
    token count, one model per language): slope = cov(x,y)/var(x),
    intercept from the means, R² = corr² — the normal equations for
    one feature, solved entirely inside a hash aggregate.  Unlike
    the iterative j36 pipeline this is EXACT in one pass: the
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are constant-
    size merge state, partial+final combined like every agg here —
    the same reason d12's moments scale.  At 100 TB: model fitting
    as a 6-number-per-group reduction, zero iterations, zero driver
    state; the k-feature generalization is a k²-entry Gram matrix
    per group, still constant-size state."""
    from big_data_fknn_spark.tables import t as _t

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text") != "")
        .select(
            "lang",
            F.size(F.split("text", " ")).cast("double").alias("x"),
            F.col("n_chars").cast("double").alias("y"),
        )
    )
    # a group with zero x-variance (one doc, or all docs the same
    # length) has no defined fit — slope/intercept are NULL, the SQL
    # division-by-zero convention the oracle already follows
    slope = F.try_divide(F.covar_pop("x", "y"), F.var_pop("x"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 6).alias("intercept"),
        F.round(F.corr("x", "y") * F.corr("x", "y"), 6).alias("r2"),
    )


# ------------------------------------------ J46/J47. frequent patterns

# Baskets: one order = the distinct part brands it contains (25-brand
# item space keeps pair/triple supports meaningful at every SF).
_FP_MIN_SUPPORT = 0.01
_FP_MIN_CONFIDENCE = 0.05

# ob MATERIALIZED: DuckDB 1.0 inlines plain CTEs per reference, and
# the inlined DISTINCT-join inside s3's 3-way self-join picks a plan
# that ran >45 min on the 10× soak corpus; materialized, the whole
# oracle takes ~14 s at sf1 (round-10 finding — oracle-side only,
# identical results, the gate and Spark sides are untouched).
_BASKET_CTES = f"""
ob AS MATERIALIZED (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
nb AS (SELECT count(DISTINCT o) AS n FROM ob),
thr AS (SELECT CAST(ceil({_FP_MIN_SUPPORT} * n) AS BIGINT) AS t, n FROM nb),
s1 AS (
  SELECT b, count(*) AS c FROM ob GROUP BY b),
s2 AS (
  SELECT a.b AS b1, c2.b AS b2, count(*) AS c
  FROM ob a JOIN ob c2 ON a.o = c2.o AND a.b < c2.b
  GROUP BY a.b, c2.b),
s3 AS (
  SELECT a.b AS b1, c2.b AS b2, c3.b AS b3, count(*) AS c
  FROM ob a
  JOIN ob c2 ON a.o = c2.o AND a.b < c2.b
  JOIN ob c3 ON a.o = c3.o AND c2.b < c3.b
  GROUP BY a.b, c2.b, c3.b)
"""


def _brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(order, array<brand>) baskets — the FPGrowth input.  The part
    dim broadcasts; collect_set dedups brands inside the hash agg."""
    from big_data_fknn_spark.tables import t as _t

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # PFP makes two passes (freq-item count, then tree build) —
    # cache so the join+agg runs once, not per pass.  Plan-keyed
    # singleton: j46 and j47 share the one copy; registered for
    # bulk release (big_data_fknn_spark.cache).
    return cached(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("items"))
    )


@register(
    "j46_fpgrowth",
    oracle=f"""
WITH {_BASKET_CTES}
SELECT itemset, freq FROM (
  SELECT b AS itemset, c AS freq FROM s1, thr WHERE c >= thr.t
  UNION ALL
  SELECT b1 || '+' || b2, c FROM s2, thr WHERE c >= thr.t
  UNION ALL
  SELECT b1 || '+' || b2 || '+' || b3, c FROM s3, thr WHERE c >= thr.t
)
""",
)
def j46_fpgrowth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining with MLlib's distributed FP-Growth
    (PFP, Li et al. 2008): orders are baskets, part brands are items,
    minSupport 0.01 (MLlib keeps itemsets with freq >= ceil(0.01·n),
    mirrored exactly by the oracle's threshold).  Output canonicalized
    to '+'-joined sorted itemsets, filtered to size ≤ 3 — the range
    the SQL oracle enumerates by self-joins (a frequent 4-set's
    3-subsets are all frequent, so the filter drops no information
    the oracle could check).

    Scale: PFP shards the FP-tree by item-suffix group — each
    executor mines an independent conditional tree, no driver-side
    candidate generation (contrast Apriori's k-round shuffles).  The
    SQL oracle's k-way self-join is exactly the pattern that does
    NOT scale — work = sum over baskets of |basket| choose k.
    """
    from pyspark.ml.fpm import FPGrowth

    fp = FPGrowth(
        itemsCol="items",
        minSupport=_FP_MIN_SUPPORT,
        minConfidence=_FP_MIN_CONFIDENCE,
    )
    model = fp.fit(_brand_baskets(spark, sf_dir))
    return (
        model.freqItemsets.where(F.size("items") <= 3)
        .select(
            F.array_join(F.array_sort("items"), "+").alias("itemset"),
            F.col("freq"),
        )
    )


@register(
    "j47_assoc_rules",
    oracle=f"""
WITH {_BASKET_CTES},
pairs AS (
  SELECT b1, b2, c FROM s2, thr WHERE c >= thr.t
  UNION ALL
  SELECT b2, b1, c FROM s2, thr WHERE c >= thr.t),
rules AS (
  SELECT p.b1 AS antecedent, p.b2 AS consequent,
         p.c::DOUBLE / x.c AS conf,
         (p.c::DOUBLE / x.c) / (y.c::DOUBLE / thr.n) AS lift,
         p.c::DOUBLE / thr.n AS support
  FROM pairs p
  JOIN s1 x ON x.b = p.b1
  JOIN s1 y ON y.b = p.b2
  CROSS JOIN thr)
SELECT antecedent, consequent,
       round(conf, 6) AS confidence, round(lift, 6) AS lift,
       round(support, 6) AS support
FROM rules WHERE conf >= {_FP_MIN_CONFIDENCE}
""",
)
def j47_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the j46 FP-Growth model, restricted to
    the 1→1 rules the SQL oracle can enumerate: confidence =
    freq(A∪B)/freq(A) over frequent brand pairs, lift = confidence /
    baseline(B), support = freq(A∪B)/n — integer-count ratios, so
    both engines divide identical longs.  MLlib emits a rule when
    confidence >= minConfidence; the oracle applies the same strict
    ">=" to the same double.

    Scale: rule generation is a broadcast join of the (small)
    frequent-itemset table against itself — the expensive part is
    j46's mining, not this.
    """
    from pyspark.ml.fpm import FPGrowth

    fp = FPGrowth(
        itemsCol="items",
        minSupport=_FP_MIN_SUPPORT,
        minConfidence=_FP_MIN_CONFIDENCE,
    )
    model = fp.fit(_brand_baskets(spark, sf_dir))
    return (
        model.associationRules.where(
            (F.size("antecedent") == 1) & (F.size("consequent") == 1)
        )
        .select(
            F.element_at("antecedent", 1).alias("antecedent"),
            F.element_at("consequent", 1).alias("consequent"),
            F.round("confidence", 6).alias("confidence"),
            F.round("lift", 6).alias("lift"),
            F.round("support", 6).alias("support"),
        )
    )


# --------------------------------------------- J49. k-sweep harness

_SWEEP_KS = (1, 3, 5, 7)


@register(
    "j49_k_sweep",
    oracle=f"""
WITH {{EMB}},
pairs AS (
  SELECT t.vec_id AS q, t.label AS label, r.vec_id AS n, r.label AS n_label,
         list_distance(t.emb, r.emb) AS d
  FROM test t CROSS JOIN train r
),
ranked AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM pairs
  ) WHERE rn <= {max(_SWEEP_KS)}
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _SWEEP_KS)}]) AS k),
votes AS (
  SELECT ks.k, q, label, n_label AS cls, count(*) AS cnt
  FROM ranked JOIN ks ON ranked.rn <= ks.k
  GROUP BY 1, 2, 3, 4),
pick AS (
  SELECT k, q, label, cls AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY k, q ORDER BY cnt DESC, cls) AS r
    FROM votes
  ) WHERE r = 1)
SELECT k, count(*) AS n_test,
       sum(CASE WHEN label = pred THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       round(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS accuracy
FROM pick GROUP BY k
""".replace("{EMB}", EMB_CTES),
)
def j49_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference papers' experiment harness: classifier accuracy
    for k ∈ {1, 3, 5, 7} from ONE kNN pass — compute the k=7
    neighbor lists once on the BLAS kernel, then derive each smaller
    k's majority vote by filtering rn ≤ k against a 4-row broadcast
    (the neighbor list for k is a prefix of the list for k_max,
    since both rank by the same (dist, n_id) order).  The reference
    re-runs the full classifier per k; sharing the candidate pass is
    the |ks|× cheaper formulation at any scale.

    Determinism: votes are ints, winners tie-break on smallest class
    id, accuracy is an int/int ratio — no float hazards anywhere.
    """
    train, test = train_test_split(spark, sf_dir)
    knn = knn_join_blas(
        test, train, k=max(_SWEEP_KS), keep_q_cols=("label",), keep_c_cols=("label",)
    )
    ks = spark.createDataFrame([(k,) for k in _SWEEP_KS], "k int")
    votes = (
        knn.join(F.broadcast(ks), F.col("rn") <= F.col("k"))
        .groupBy("k", "q_id", "q_label", F.col("n_label").alias("cls"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pick = Window.partitionBy("k", "q_id").orderBy(F.col("cnt").desc(), F.col("cls"))
    pred = (
        votes.withColumn("r", F.row_number().over(pick))
        .where(F.col("r") == 1)
        .select("k", "q_id", "q_label", F.col("cls").alias("pred"))
    )
    correct = F.sum(
        F.when(F.col("q_label") == F.col("pred"), 1).otherwise(0)
    )
    return pred.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_test"),
        correct.alias("n_correct"),
        F.round(correct.cast("double") / F.count(F.lit(1)), 6).alias("accuracy"),
    )


# ------------------------------------ J57. stratified split


@register(
    "j57_stratified_split",
    oracle=f"""
WITH ranked AS (
  SELECT label, vec_id,
         row_number() OVER (PARTITION BY label
                            ORDER BY md5('split#' || vec_id), vec_id) AS r
  FROM embeddings WHERE {EMB_ADMIT_SQL}),
tagged AS (
  SELECT label, CASE WHEN r % 5 = 0 THEN 'test' ELSE 'train' END AS split
  FROM ranked)
SELECT label, split, count(*) AS n
FROM tagged GROUP BY label, split
""",
)
def j57_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-STRATIFIED 80/20 split — the j6 upgrade imbalanced data
    needs: rank every vector inside its class by an md5 shuffle key
    (deterministic, cross-engine, auditable — the j52 device) and
    send every 5th rank to test, so each class lands within one
    vector of exact 80/20 regardless of class skew (a global hash
    split leaves small classes off-ratio by luck).  Emits the
    per-class split census; the assignment itself is the `tagged`
    relation.

    Scale: one window per class partition over (id, hash) pairs —
    no shuffle of feature vectors at all; the split column joins
    back by id when training consumes it."""
    e = embeddings_d(spark, sf_dir)
    r = F.row_number().over(
        Window.partitionBy("label").orderBy(
            F.md5(F.concat(F.lit("split#"), F.col("vec_id"))), "vec_id"
        )
    )
    tagged = e.select(
        "label",
        F.when((r % 5) == 0, "test").otherwise("train").alias("split"),
    )
    return tagged.groupBy("label", "split").agg(F.count(F.lit(1)).alias("n"))


# ------------------------------------ J58. decision-margin scoring


@register(
    "j58_fknn_margin",
    oracle=f"""
WITH {{EMB}},
{{STAGE1}},
p2 AS (
  SELECT t.vec_id AS q, t.label AS label, r.vec_id AS n,
         list_distance(t.emb, r.emb) AS d
  FROM test t CROSS JOIN train r
),
k2 AS (
  SELECT *, 1.0 / greatest(d * d, 1e-12) AS w FROM (
    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, n) AS rn FROM p2
  ) WHERE rn <= {{K}}
),
totw AS (SELECT q, sum(w) AS tw FROM k2 GROUP BY q),
scores AS (
  SELECT k2.q, k2.label, m.cls, sum(k2.w * m.u) AS s
  FROM k2 JOIN memb m ON m.mv = k2.n GROUP BY 1, 2, 3
),
final AS (
  SELECT s.q, s.label, s.cls, s.s / t.tw AS u_norm,
         row_number() OVER (PARTITION BY s.q ORDER BY s.s / t.tw DESC, s.cls) AS rnk
  FROM scores s JOIN totw t ON s.q = t.q
),
top2 AS (
  SELECT q AS vec_id, label,
         max(CASE WHEN rnk = 1 THEN cls END) AS pred,
         max(CASE WHEN rnk = 1 THEN u_norm END) AS u1,
         coalesce(max(CASE WHEN rnk = 2 THEN u_norm END), 0) AS u2
  FROM final WHERE rnk <= 2 GROUP BY q, label)
SELECT vec_id, label, pred, round(u1 - u2, 6) AS margin
FROM top2
""".replace("{EMB}", EMB_CTES).replace("{STAGE1}", STAGE1_CTES).replace("{K}", str(K)),
)
def j58_fknn_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision margin of the flagship fuzzy classifier: the gap
    between the top-2 normalized class memberships per test point —
    the active-learning / selective-prediction signal (low margin =
    send to a human or a bigger model).  Same stage-1 memberships
    and stage-2 weighted voting as j3 (operators/fknn.py), but keeps
    rank ≤ 2 of the score window instead of the argmax only; a
    single-class score set degrades to margin = u1 (u2 = 0, both
    engines).

    Scale: identical cost to j3 — the margin is free once the score
    table exists; at fleet scale you'd persist scores once and
    derive pred, conf, AND margin from the same table."""
    train, test = train_test_split(spark, sf_dir)
    scores = fuzzy_scores(test, train, keller_memberships(train, k=K), k=K)
    top2 = (
        scores.where(F.col("rnk") <= 2)
        .groupBy(F.col("q_id").alias("vec_id"), F.col("q_label").alias("label"))
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("cls"))).alias("pred"),
            F.max(F.when(F.col("rnk") == 1, F.col("u_norm"))).alias("u1"),
            F.coalesce(
                F.max(F.when(F.col("rnk") == 2, F.col("u_norm"))), F.lit(0.0)
            ).alias("u2"),
        )
    )
    return top2.select(
        "vec_id", "label", "pred", F.round(F.col("u1") - F.col("u2"), 6).alias("margin")
    )
