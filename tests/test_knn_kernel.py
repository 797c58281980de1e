"""knn_join_blas must return the SAME neighbors as the declarative
knn_join — the papers' exactness property ([P FkNN-BD §III]) must
survive the kernel swap.  Distances may differ in final ulps (BLAS
vs sequential fold), so sets are compared on ids + rounded dist."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_fknn_spark.operators.knn import knn_join, knn_join_blas
from big_data_fknn_spark.plans import executed_plan
from big_data_fknn_spark.tables import embeddings_d, train_test_split

SF_DIR = "/root/testdata/sf0.001"


# keep columns ride the kernel: an int label with NULLs on both the
# query and the candidate side, plus a string and a double column
KEEP = ("label", "tag", "half")


def with_keeps(df):
    return df.select(
        "vec_id",
        "emb",
        F.when(F.col("vec_id") % 7 != 0, F.col("label")).alias("label"),
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("tag"),
        (F.col("vec_id") / 2).alias("half"),
    )


def neighbor_set(df, keep=()):
    kept = [f"{side}_{c}" for c in keep for side in ("q", "n")]
    return sorted(
        (r["q_id"], r["rn"], r["n_id"], round(r["dist"], 9), *[r[c] for c in kept])
        for r in df.select("q_id", "rn", "n_id", "dist", *kept).collect()
    )


@pytest.mark.parametrize("k", [1, 5, 11])
def test_blas_matches_declarative(spark, k):
    train, test = (with_keeps(df) for df in train_test_split(spark, SF_DIR))
    kw = dict(k=k, keep_q_cols=KEEP, keep_c_cols=KEEP)
    a = neighbor_set(knn_join(test, train, **kw), KEEP)
    b = neighbor_set(knn_join_blas(test, train, **kw), KEEP)
    assert a == b
    assert any(r[4] is None for r in b)  # a NULL query label rode through
    assert any(r[5] is None for r in b)  # and a NULL candidate label


def test_blas_exclude_self_leave_one_out(spark):
    emb = with_keeps(embeddings_d(spark, SF_DIR))
    kw = dict(k=3, exclude_self=True, keep_q_cols=KEEP, keep_c_cols=KEEP)
    a = neighbor_set(knn_join(emb, emb, **kw), KEEP)
    b = neighbor_set(knn_join_blas(emb, emb, **kw), KEEP)
    assert a == b
    assert all(q != n for q, _, n, *_ in b)


def test_blas_chunking_invariant(spark, monkeypatch):
    """Splitting the query side into many broadcast chunks must not
    change results (the kNN-IS iterative scheme is result-neutral),
    keep columns included."""
    import big_data_fknn_spark.operators.knn as knn_mod

    train, test = (with_keeps(df) for df in train_test_split(spark, SF_DIR))
    kw = dict(k=5, keep_q_cols=KEEP, keep_c_cols=KEEP)
    want = neighbor_set(knn_join(test, train, **kw), KEEP)
    whole = neighbor_set(knn_join_blas(test, train, **kw), KEEP)
    monkeypatch.setattr(knn_mod, "_CHUNK", 7)  # 100 queries → 15 chunks
    out = knn_join_blas(test, train, **kw)
    assert executed_plan(out).count("MapInPandas") > 1  # one kernel per chunk
    chunked = neighbor_set(out, KEEP)
    assert want == whole == chunked


def test_blas_cosine_metric(spark):
    emb = embeddings_d(spark, SF_DIR)
    probes = emb.where(F.col("vec_id") % 50 == 0)
    got = knn_join_blas(probes, emb, k=5, metric="cosine_neg", exclude_self=True)
    rows = got.select("q_id", "rn", "dist").collect()
    assert len(rows) == probes.count() * 5
    # negated cosine of unit vectors ∈ [-1, 1]
    assert all(-1.0001 <= r["dist"] <= 1.0001 for r in rows)


# ----------------------- degenerate-vector robustness (round-8)
#
# One ragged/NULL/zero-norm/NaN row in 100 TB of input must not kill
# the job: the kernel DROPS non-conforming vectors on both sides
# (callers normally gate them earlier via tables.EMB_ADMIT_SQL — this
# pins the kernel's own belt-and-braces, feeding garbage STRAIGHT in).


def _degenerate_frame(spark):
    """4 clean 4-dim vectors + empty, NULL, short, NaN-element, inf-
    element and zero-norm rows, as one DataFrame."""
    clean = [(i, [float(i + d) for d in range(4)]) for i in range(1, 5)]
    dirty = [
        (101, []),
        (102, None),
        (103, [1.0, 2.0]),  # ragged: wrong dim
        (104, [float("nan"), 1.0, 1.0, 1.0]),
        (105, [float("inf"), 1.0, 1.0, 1.0]),
        (106, [0.0, 0.0, 0.0, 0.0]),  # zero norm (cosine guard)
    ]
    return spark.createDataFrame(clean + dirty, "vec_id long, emb array<double>")


@pytest.mark.parametrize("metric", ["euclidean", "cosine_neg"])
def test_blas_kernel_survives_degenerate_vectors(spark, metric):
    df = _degenerate_frame(spark)
    out = knn_join_blas(df, df, k=2, metric=metric, exclude_self=True)
    rows = out.collect()  # must not crash (np.vstack / ANSI divide)
    # ragged/NULL/empty query rows are dropped; NaN/inf/zero rows are
    # dim-conforming and keep flowing (admission gates them upstream)
    q_ids = {r["q_id"] for r in rows}
    assert {1, 2, 3, 4} <= q_ids
    assert {101, 102, 103}.isdisjoint(q_ids)
    n_ids = {r["n_id"] for r in rows}
    assert {101, 102, 103}.isdisjoint(n_ids)
    # and against CLEAN candidates only, clean queries rank exactly as
    # the declarative path — dirty query rows change nothing for them
    # (NaN/inf-element queries emit NaN distances, which the upstream
    # admission gate excludes from any oracled surface)
    if metric == "euclidean":
        clean = df.where(F.col("vec_id") < 100)
        a = neighbor_set(knn_join(clean, clean, k=2, exclude_self=True))
        b = neighbor_set(
            knn_join_blas(df, clean, k=2, exclude_self=True).where(
                F.col("q_id") < 100
            )
        )
        assert a == b


def test_declarative_fallback_drops_null_dist_pairs(spark):
    """knn_join (the >4M-row fallback plan) must not rank a ragged or
    NULL vector as everyone's nearest neighbor: zip_with NULL-pads
    ragged pairs → NULL dist → Spark's ASC sort puts NULL FIRST.
    Pinned against the pre-round-8 behavior, where vec 101 ([]) was
    the 1-NN of every query with dist NULL."""
    rows = [
        (1, [1.0, 2.0]),
        (2, [1.1, 2.1]),
        (3, [9.0, 9.0]),
        (101, []),
        (102, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = knn_join(df, df, k=1, exclude_self=True).collect()
    got = {r["q_id"]: (r["n_id"], r["dist"]) for r in out}
    assert got[1] == (2, pytest.approx(0.1414213, abs=1e-6))
    assert got[2][0] == 1
    assert got[3][0] == 2
    assert all(d is not None for _, d in got.values())
    # ragged/NULL queries pair with nothing at equal dims → no rows
    assert 102 not in got
    # vec 101 ([]) zip_withs every 2-dim vector into NULL dist → gone
    assert 101 not in got and all(n != 101 for n, _ in got.values())


def test_blas_kernel_all_queries_degenerate_is_empty_not_crash(spark):
    df = _degenerate_frame(spark)
    bad = df.where(F.col("vec_id").isin(101, 102, 103))
    # declared dim: even the 2-element vector is non-conforming (with
    # inference it would legitimately define its own dim instead)
    out = knn_join_blas(bad, df, k=2, dim=4)
    assert out.count() == 0  # stable empty output, stable schema
    assert [f.name for f in out.schema.fields[:3]] == ["q_id", "n_id", "dist"]


def test_blas_dim_inference_is_mode_not_first_row(spark):
    """Kernel dim inference must be the MODE of the first chunk, not
    the first row: a ragged row arriving first under an unlucky
    input-split order must not hijack the dim and silently drop every
    conforming vector (round-9 ADVICE).  repartition(1) funnels all
    rows through one partition whose order follows the input listing,
    so putting the ragged row first in the data reproduces the
    hazard deterministically."""
    rows = [
        (103, [1.0, 2.0]),  # ragged 2-dim row FIRST
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.1, 2.1, 3.1, 4.1]),
        (3, [9.0, 9.0, 9.0, 9.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, emb array<double>"
    ).coalesce(1)
    out = knn_join_blas(df, df, k=1, exclude_self=True).collect()
    got = {r["q_id"]: r["n_id"] for r in out}
    # pre-fix behavior: dim locked to 2, every 4-dim vector dropped,
    # result empty (or 2-dim-only); the mode vote keeps the majority
    assert got.get(1) == 2 and got.get(2) == 1
    assert 103 not in got and all(n != 103 for n in got.values())


def test_blas_dim_mode_tie_breaks_to_longer(spark):
    """Equal counts of two lengths in the inference chunk: the vote is
    deterministic (longer length wins), never input-order dependent."""
    rows = [
        (1, [1.0, 2.0]),
        (2, [2.0, 1.0]),
        (11, [1.0, 2.0, 3.0]),
        (12, [3.0, 2.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = knn_join_blas(df, df, k=1, exclude_self=True).collect()
    q_ids = {r["q_id"] for r in out}
    assert q_ids == {11, 12}
