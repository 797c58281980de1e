"""Scale-headroom stress: the BLAS kNN kernel on a corpus 10× the
largest testdata scale factor.

sf0.1 has 2,000 vectors; this synthesizes 20,000 × 64-dim (and a
2,000-query probe set) in a /tmp parquet and requires the kernel to
finish a 2k × 20k kNN inside a tight budget.  Catches regressions
that only appear past the toy sizes: per-pair materialization,
batch-local top-k not pruning, broadcast rebuild per batch.
"""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_fknn_spark.operators.knn import knn_join_blas

N_CAND = 20_000
N_Q = 2_000
DIM = 64
BUDGET_S = 60.0  # DuckDB needs ~10.7 s for a 2k×2k join (BASELINE.md);
# 2k×20k is 10× the pairs — under a minute is comfortable headroom.


@pytest.fixture(scope="module")
def stress_path():
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((N_CAND, DIM)).astype(np.float64)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N_CAND), pa.int64()),
            "emb": pa.array(vecs.tolist(), pa.list_(pa.float64())),
        }
    )
    d = tempfile.mkdtemp(prefix="knn_stress_")
    pq.write_table(tbl, os.path.join(d, "vecs.parquet"))
    return os.path.join(d, "vecs.parquet")


def test_blas_kernel_2k_x_20k_under_budget(spark, stress_path):
    vecs = spark.read.parquet(stress_path)
    probes = vecs.where(F.col("vec_id") % 10 == 0)
    t0 = time.perf_counter()
    out = knn_join_blas(probes, vecs, k=5, exclude_self=True)
    n = out.count()
    elapsed = time.perf_counter() - t0
    assert n == N_Q * 5
    assert elapsed < BUDGET_S, f"kNN 2k×20k took {elapsed:.1f}s (budget {BUDGET_S}s)"

    # spot-verify one query's neighbors against numpy ground truth
    row_q = 0
    got = sorted(
        (r["n_id"], round(r["dist"], 9))
        for r in out.where(F.col("q_id") == row_q).collect()
    )
    pdf = vecs.orderBy("vec_id").toPandas()
    M = np.vstack(pdf["emb"].to_numpy())
    d = np.linalg.norm(M - M[row_q], axis=1)
    d[row_q] = np.inf  # exclude self
    idx = np.lexsort((np.arange(N_CAND), d))[:5]
    want = sorted((int(i), round(float(d[i]), 9)) for i in idx)
    assert got == want


def test_blas_kernel_streams_chunks_no_full_collect(spark, stress_path, monkeypatch):
    """The kNN-IS iterative chunk scheme: a query side ≥10× the chunk
    size must flow through the kernel as many bounded fetches — the
    driver's Python buffer never holds more than one chunk — and still
    produce exactly the neighbors the declarative plan produces."""
    from big_data_fknn_spark.operators import knn
    from big_data_fknn_spark.plans import executed_plan

    vecs = spark.read.parquet(stress_path)
    # 20k queries / 1.25k chunk = 16 chunks ≥ 10×; the query side is
    # hashed into 16 partitions of 1.25k rows on average, so about half
    # of them hold more than a chunk: only the chunk-bound flush keeps
    # every broadcast within one chunk
    chunk = 1_250
    monkeypatch.setattr(knn, "_CHUNK", chunk)
    # each chunk the driver buffers leaves as one broadcast of
    # (ids, matrix, dim, keep columns): record its query-row count
    sc = spark.sparkContext
    sizes = []
    broadcast = sc.broadcast

    def spy(value):
        sizes.append(len(value[0]))
        return broadcast(value)

    monkeypatch.setattr(sc, "broadcast", spy)
    out = knn_join_blas(vecs, vecs, k=3, exclude_self=True)
    n_kernels = executed_plan(out).count("MapInPandas")
    assert n_kernels >= 10, n_kernels
    assert max(sizes) <= chunk, sizes
    assert out.count() == N_CAND * 3

    # value parity on a probe subset vs numpy ground truth
    pdf = vecs.orderBy("vec_id").toPandas()
    M = np.vstack(pdf["emb"].to_numpy())
    for row_q in (0, 7_777, 19_999):
        got = sorted(
            (r["n_id"], round(r["dist"], 9))
            for r in out.where(F.col("q_id") == row_q).collect()
        )
        d = np.linalg.norm(M - M[row_q], axis=1)
        d[row_q] = np.inf
        idx = np.lexsort((np.arange(N_CAND), d))[:3]
        want = sorted((int(i), round(float(d[i]), 9)) for i in idx)
        assert got == want, row_q


def test_blas_kernel_falls_back_declarative_above_budget(spark, stress_path, monkeypatch):
    """Above the broadcast-row budget the call must switch to the
    declarative knn_join plan (zero driver materialization) with the
    same output contract and the same neighbors."""
    from big_data_fknn_spark.operators import knn
    from big_data_fknn_spark.plans import has_operator

    vecs = spark.read.parquet(stress_path).withColumn(
        "tag", F.when(F.col("vec_id") % 3 != 0, F.col("vec_id").cast("string"))
    )
    probes = vecs.where(F.col("vec_id") % 100 == 0)  # 200 queries
    kw = dict(k=4, keep_q_cols=("tag",), keep_c_cols=("tag",))
    cols = ("q_id", "rn", "n_id", "q_tag", "n_tag")
    blas = knn_join_blas(probes, vecs, **kw)
    assert has_operator(blas, "MapInPandas")
    want = sorted(tuple(r) for r in blas.select(*cols).collect())
    monkeypatch.setattr(knn, "_MAX_BROADCAST_ROWS", 100)
    fb = knn_join_blas(probes, vecs, **kw)
    assert not has_operator(fb, "MapInPandas")
    got = sorted(tuple(r) for r in fb.select(*cols).collect())
    assert got == want


def test_aqe_splits_skewed_join(spark):
    # Scale evidence: a join where one key holds ~100x the rows of
    # every other must trigger AQE's skew-join splitting (the 100 TB
    # hot-key defense) once the skew thresholds are scaled down to
    # testdata size.  Assert the executed plan marks the join skew=true.
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        skewed = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 != 0, F.lit(7)).otherwise(F.col("id") % 50)
            .alias("k"),
            (F.col("id") * 3).alias("payload"),
        )
        dim = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 11).alias("dval")
        )
        # No agg downstream: AQE declines to split a skewed join whose
        # output partitioning a later stage would have to rebuild.
        # Action must run on THIS Dataset so its queryExecution holds
        # the final adaptive plan (a write clones the plan).
        j = skewed.join(dim, "k").select("k", "payload", "dval")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE must mark the skewed join"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_percentile_within_bound(spark):
    # d16's sketch estimate must land close to the exact interpolated
    # median (x3).  accuracy=10000 → rank error ~n/10000; at sf0.01
    # group sizes (~600) the returned value is an exact member of the
    # group, so allow the gap between neighboring order statistics.
    from big_data_fknn_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.01"
    approx = {
        r["c_mktsegment"]: r["p50_approx"]
        for r in reg["d16_approx_percentile"].fn(spark, sf).collect()
    }
    exact = {
        r["c_mktsegment"]: r["p50"]
        for r in reg["x3_percentile_exact"].fn(spark, sf).collect()
    }
    assert set(approx) == set(exact)
    for seg in exact:
        # acctbal spans [-1000, 10000]; adjacent order stats in a
        # ~600-row group are within ~2% of the range of each other
        assert abs(approx[seg] - exact[seg]) < 220, seg


def test_sketch_merge_equals_direct(spark):
    """d19: unioning per-day HLL sketches must give the SAME estimate
    as one direct pass (mergeability is exact, not approximate), and
    both must sit within the sketch's error bound of the exact count."""
    from big_data_fknn_spark.queries import load_all

    rows = (
        load_all()["d19_sketch_merge"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert rows
    for r in rows:
        assert r.est_merged == r.est_direct, r
        assert abs(r.est_direct - r.exact) <= max(3, 0.05 * r.exact), r


def test_float_sensitive_new_keys_partition_invariant(spark):
    """The round-2 float-bearing keys (NB log-score argmax, OLS
    moments, kNN regression means, entropy) must hash identically
    under 2 and 32 shuffle partitions — same determinism sweep the
    driver probe runs on j3/d1/i1/j8."""
    import hashlib

    from big_data_fknn_spark.queries import load_all

    defs = load_all()
    keys = (
        "j41_knn_regression",
        "j42_naive_bayes",
        "j45_linreg_ols",
        "d18_entropy",
        # round-2 batch: decimal-pinned EWMA/TWA sums, RANGE-frame
        # weighted median, macro-averaged PRF1, PMI ln-of-int-ratio
        "x49_ewma",
        "x53_time_weighted_avg",
        "d21_weighted_median",
        "d20_prf1",
        "j48_pmi_bigrams",
        # round-3 batch: rank-routed keys — operators/rank.py defaults
        # num_buckets to spark.sql.shuffle.partitions, so 2-vs-32 here
        # proves the OUTPUT is bucketing-invariant (exact ranks +
        # literal offsets), not just shuffle-order-invariant
        "e5_pct",
        "x65_rfm_segmentation",
        "x69_abc_pareto",
        "x57_skyline",
        "j44_vocab_build",
    )

    def h(key):
        pdf = defs[key].fn(spark, "/root/testdata/sf0.01").toPandas()
        cols = sorted(pdf.columns)
        rows = sorted(
            ",".join(str(v) for v in r) for r in pdf[cols].itertuples(index=False)
        )
        return hashlib.md5("\n".join(rows).encode()).hexdigest()

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for parts in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for k in keys:
                out.setdefault(k, []).append(h(k))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for k, hs in out.items():
        assert len(set(hs)) == 1, f"{k} nondeterministic across partitionings"


def test_minhash_pipeline_50k_docs_stays_bucketed(spark):
    """Text-dedup scale check (the j8 shape at 10× sf0.1): 50k synthetic
    docs with 500 planted near-dup pairs.  Asserts (a) the LSH
    candidate set stays ~planted-pair-sized — the bucket join must
    never degenerate toward |docs|²; (b) every planted pair is
    caught (banding P(miss) ≈ 1e-4 per pair at jac ≈ 0.9); (c) the
    whole pipeline clears a wall-clock budget."""
    import os
    import random
    import tempfile
    import time

    from pyspark.sql import functions as F

    from big_data_fknn_spark.functions.text import shingles
    from big_data_fknn_spark.queries.llm import _BAND_R, _NH, _minhash_exprs_spark

    rng = random.Random(11)
    words = [f"w{i}" for i in range(5000)]
    rows = []
    for i in range(49_000):
        rows.append((i, " ".join(rng.choice(words) for _ in range(60))))
    # 500 near-dup pairs: copy with one word changed (~jac 0.9)
    for j in range(500):
        base = rows[j][1].split(" ")
        base[30] = "zz_mut"
        rows.append((49_000 + j, " ".join(base)))
    d = tempfile.mkdtemp(prefix="dedup_stress_")
    spark.createDataFrame(rows, "doc_id long, text string").repartition(8).write.parquet(
        os.path.join(d, "docs")
    )

    t0 = time.perf_counter()
    docs = spark.read.parquet(os.path.join(d, "docs"))
    w = docs.select("doc_id", F.split("text", " ").alias("w"))
    tok = w.select("doc_id", F.explode(shingles(F.col("w"), 3)).alias("s")).cache()
    mh = tok.groupBy("doc_id").agg(*_minhash_exprs_spark())
    band_arr = F.array(
        *[
            F.concat(F.col(f"h{_BAND_R * b}"), F.col(f"h{_BAND_R * b + 1}"))
            for b in range(_NH // _BAND_R)
        ]
    )
    bands = mh.select("doc_id", F.posexplode(band_arr).alias("band", "key"))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
        .distinct()
    )
    n_cand = cand.count()
    elapsed = time.perf_counter() - t0
    # (a) bucketed, not quadratic: candidates within a small multiple
    # of the planted pairs (random 60-of-5000-word docs don't collide)
    assert n_cand < 5_000, f"candidate blowup: {n_cand}"
    # (b) recall: every planted (j, 49000+j) pair must be a candidate
    planted = cand.where(F.col("j") - F.col("i") == 49_000).count()
    assert planted == 500, f"missed planted pairs: {500 - planted}"
    # (c) 49.5k docs end-to-end under a generous local budget
    assert elapsed < 120, f"minhash pipeline took {elapsed:.0f}s"
    tok.unpersist()


def test_global_rank_500k_balanced_and_exact(spark):
    """Rank-primitive scale check (~30× the customer table): 500k rows
    with a skew-ish value distribution.  Asserts (a) exact agreement
    with row_number() over the total order — computed here via a
    single-partition window, fine IN A TEST at this size — on a
    deterministic sample of rows, (b) per-bucket row counts stay
    within 4× the ideal n/B (the percentile splits really equi-depth
    the data), and (c) ntile deciles have the exact n/10 sizes."""
    from big_data_fknn_spark.operators.rank import global_rank, ntile_from_rank

    n = 500_000
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            # md5-derived deterministic uniform, squared for skew
            (
                F.pow(
                    F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
                    .cast("double")
                    / F.lit(float(16**8)),
                    2.0,
                )
            ).alias("v"),
        )
    ).localCheckpoint(eager=True)

    gr = global_rank(df, [("v", True), ("id", True)], rank_col="r", num_buckets=32)
    assert gr.total == n

    # (a) exactness vs the reference rank on a 1/500 sample
    from pyspark.sql import Window

    ref = df.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
    ).where(F.col("id") % 500 == 0)
    joined = gr.df.where(F.col("id") % 500 == 0).join(ref, "id")
    assert joined.where(F.col("r") != F.col("rn")).count() == 0

    # (b) bucket balance: the primitive's own per-bucket counts (the
    # md5-uniform key has no duplicate splits, so nothing refines)
    from big_data_fknn_spark.operators.rank import _tag_balanced

    order = [("v", True), ("id", True)]
    _, [(_, by_bucket)], _ = _tag_balanced(df, [order], 32, [])
    sizes = [int(r["__cnt"]) for r in by_bucket.values()]
    assert max(sizes) <= 4 * (n / 32), f"bucket skew: {sorted(sizes)[-3:]}"

    # (c) decile sizes exact
    dec = (
        gr.df.select(ntile_from_rank(F.col("r"), gr.total, 10).alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    assert {r["d"]: r["c"] for r in dec} == {i: n // 10 for i in range(1, 11)}


def test_global_rank_500k_tied_leading_key_balanced_and_exact(spark):
    """Round-4 tie-skew criterion: 500k rows where 50% share ONE
    leading-key value (the j44 Zipf-singleton shape: cnt desc with a
    string token tiebreaker).  At the REAL skew thresholds (no
    monkeypatching) the refinement must (a) keep ranks exact against
    row_number() on a sample, and (b) hold the largest FINAL bucket
    within 4× the ideal n/B — the tied mode class must not serialize
    into one task."""
    from big_data_fknn_spark.operators.rank import _tag_balanced, global_rank

    n = 500_000
    df = (
        spark.range(n)
        .select(
            "id",
            # half the table tied at cnt=1; the rest a long-ish tail
            F.when(F.col("id") % 2 == 0, F.lit(1))
            .otherwise((F.col("id") % 4096) + 2)
            .cast("long")
            .alias("cnt"),
            F.concat(F.lit("tok_"), F.md5(F.col("id").cast("string"))).alias("token"),
        )
        .localCheckpoint(eager=True)
    )
    order = [("cnt", False), ("token", True), ("id", True)]

    gr = global_rank(df, order, rank_col="r", num_buckets=32)
    assert gr.total == n

    # (a) exactness vs the reference rank on a 1/500 sample
    from pyspark.sql import Window

    ref = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "token", "id"))
        .alias("rn"),
    ).where(F.col("id") % 500 == 0)
    joined = gr.df.where(F.col("id") % 500 == 0).join(ref, "id")
    assert joined.where(F.col("r") != F.col("rn")).count() == 0

    # (b) final bucket balance at real thresholds: the 250k tie class
    # must have been sub-split on the token prefix code
    _tagged, [(_, by_bucket)], total = _tag_balanced(df, [order], 32, [])
    assert total == n
    sizes = sorted(int(r["__cnt"]) for r in by_bucket.values())
    assert sizes[-1] <= 4 * (n / 32), f"tie-bucket skew survived: {sizes[-3:]}"


def test_scan_parallelism_is_file_bound_not_plan_bound(spark, tmp_path):
    """Evidence for SCALE.md's bench-floor claim: the sf0.1 tables are
    ONE file with ONE row group, so a scan cannot split — Spark reads
    them in a single task no matter the config.  Rewriting the same
    rows as 8 files makes the identical aggregation plan fan out,
    proving the per-query floors in bench.py are input-layout
    serialization, not plan defects."""
    src = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    single_parts = src.rdd.getNumPartitions()
    assert single_parts == 1, "testdata layout changed — update SCALE.md floor note"

    multi_dir = str(tmp_path / "lineitem8")
    src.repartition(8).write.mode("overwrite").parquet(multi_dir)
    # Spark packs small file splits against defaultParallelism: ask for
    # 8 splits so the 8 files fan out below 8 cores too
    key = "spark.sql.files.minPartitionNum"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "8")
    try:
        multi = spark.read.parquet(multi_dir)
        assert multi.rdd.getNumPartitions() >= 8
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    # identical aggregate, identical result, parallel scan
    def agg(df):
        return (
            df.groupBy("l_returnflag")
            .agg(F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("q"))
            .orderBy("l_returnflag")
            .collect()
        )

    assert agg(src) == agg(multi)


def test_multi_and_running_500k_tied_at_real_thresholds(spark):
    """The other two public rank entry points at 500k rows with a
    50%-tied metric and REAL skew thresholds: multi_global_rank (the
    RFM shape — one tie-heavy metric, one smooth) must produce exact
    ranks for both metrics, and global_running_agg's running sum over
    the tie-heavy order must match the window ground truth.  Balance
    of the shared machinery is proven by the global_rank stress; this
    pins the offsets/per-bucket-aggregate recomputation after
    refinement at scale."""
    from pyspark.sql import Window

    from big_data_fknn_spark.operators.rank import (
        global_running_agg,
        multi_global_rank,
    )

    n = 500_000
    df = (
        spark.range(n)
        .select(
            "id",
            # 50% tied at f=1 (small-integer frequency shape)
            F.when(F.col("id") % 2 == 0, F.lit(1))
            .otherwise((F.col("id") % 97) + 2)
            .cast("long")
            .alias("f"),
            # smooth monetary-style metric
            (
                F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
                .cast("double")
                / F.lit(float(16**8))
            ).alias("m"),
        )
        .localCheckpoint(eager=True)
    )

    out, total = multi_global_rank(
        df,
        [
            ("rf", [("f", True), ("id", True)]),
            ("rm", [("m", False), ("id", True)]),
        ],
        num_buckets=32,
    )
    assert total == n
    sample = F.col("id") % 500 == 0
    # global ranks must come from the FULL frame; sample only the join
    full_ref = df.select(
        "id",
        F.row_number().over(Window.orderBy("f", "id")).alias("ef"),
        F.row_number().over(Window.orderBy(F.col("m").desc(), "id")).alias("em"),
    ).where(sample)
    j = out.where(sample).join(full_ref, "id")
    assert (
        j.where((F.col("rf") != F.col("ef")) | (F.col("rm") != F.col("em"))).count()
        == 0
    )

    run = global_running_agg(
        df,
        [("f", True), ("id", True)],
        "m",
        "sum",
        out_col="c",
        exclusive=False,
        num_buckets=32,
    )
    w = Window.orderBy("f", "id").rowsBetween(Window.unboundedPreceding, 0)
    truth = df.select("id", F.sum("m").over(w).alias("t")).where(sample)
    jj = run.where(sample).join(truth, "id")
    bad = jj.where(F.abs(F.col("c") - F.col("t")) > 1e-6).count()
    assert bad == 0


def test_global_rank_500k_long_shared_prefix_continuation(spark):
    """Round-4 continuation criterion at the REAL thresholds: the
    tied mode class's string tiebreakers share a 25-byte common
    prefix (the URL-corpus shape), so the first FOUR 6-byte windows
    are all-equal and refinement must walk continuation windows to
    the discriminating bytes — without continuation the one-level
    scheme leaves the whole 250k class in a single bucket."""
    from pyspark.sql import Window

    from big_data_fknn_spark.operators.rank import _tag_balanced, global_rank

    n = 500_000
    df = (
        spark.range(n)
        .select(
            "id",
            F.when(F.col("id") % 2 == 0, F.lit(1))
            .otherwise((F.col("id") % 4096) + 2)
            .cast("long")
            .alias("cnt"),
            F.concat(
                F.lit("https://site.example/doc-"),
                F.md5(F.col("id").cast("string")),
            ).alias("token"),
        )
        .localCheckpoint(eager=True)
    )
    order = [("cnt", False), ("token", True), ("id", True)]

    gr = global_rank(df, order, rank_col="r", num_buckets=32)
    assert gr.total == n

    ref = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "token", "id"))
        .alias("rn"),
    ).where(F.col("id") % 500 == 0)
    joined = gr.df.where(F.col("id") % 500 == 0).join(ref, "id")
    assert joined.where(F.col("r") != F.col("rn")).count() == 0

    _tagged, [(_, by_bucket)], total = _tag_balanced(df, [order], 32, [])
    assert total == n
    sizes = sorted(int(r["__cnt"]) for r in by_bucket.values())
    assert sizes[-1] <= 4 * (n / 32), f"prefix tie class survived: {sizes[-3:]}"


def test_x65_rfm_refines_tied_frequency_metric(spark, tmp_path, monkeypatch):
    """End-to-end x65 over a synthetic orders table where 70% of
    customers share ONE order count (the tie-heavy frequency metric
    the round-3 verdict flagged), with the skew floor lowered so
    multi_global_rank's refinement engages: the segment rollup must
    match a plain three-window ntile computation exactly."""
    import datetime

    from pyspark.sql import Window

    from big_data_fknn_spark.operators import rank
    from big_data_fknn_spark.queries.analytics import x65_rfm_segmentation

    monkeypatch.setattr(rank, "_MIN_SKEW_ROWS", 0)

    rows = []
    ok = 0
    for c in range(400):
        n_orders = 3 if c % 10 < 7 else (c % 6) + 1  # 70% tied at 3
        for j in range(n_orders):
            ok += 1
            rows.append(
                (
                    ok,
                    c,
                    "O",
                    float(((c * 37 + j * 11) % 9000) + 100) / 7.0,
                    datetime.datetime(2024, (c + j) % 12 + 1, (c * 3 + j) % 28 + 1),
                    "1-URGENT",
                )
            )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{sf_dir}/orders.parquet")

    got = {
        r["segment"]: (r["n_customers"], r["avg_monetary"], r["sample_custkey"])
        for r in x65_rfm_segmentation(spark, sf_dir).collect()
    }

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mx = o.agg(F.max("o_orderdate").alias("mx"))
    base = (
        o.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            # x65 quantizes money to exact integer cents (c3's render
            # device) — the truth must apply the same quantization
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary"
            ),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "ck",
            F.datediff(
                F.col("mx").cast("date"), F.col("last_order").cast("date")
            ).alias("recency_d"),
            "frequency",
            "monetary",
        )
    )
    scored = base.select(
        "ck",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_d").desc(), "ck"))
        .alias("r_q"),
        F.ntile(5).over(Window.orderBy("frequency", "ck")).alias("f_q"),
        F.ntile(5).over(Window.orderBy("monetary", "ck")).alias("m_q"),
    )
    want = {
        r["segment"]: (r["n_customers"], r["avg_monetary"], r["sample_custkey"])
        for r in scored.groupBy(
            F.concat_ws("-", "r_q", "f_q", "m_q").alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum("monetary").cast("double") / (100 * F.count(F.lit(1))), 6
            ).alias("avg_monetary"),
            F.min("ck").alias("sample_custkey"),
        )
        .collect()
    }
    assert got == want


def test_j34_lsh_blocking_bounded_on_zipf_first_tokens(spark, tmp_path):
    """Round-4/5 verdict: the old (lang, first-token) blocking key is
    per-block quadratic on real text because sentence-initial tokens
    are Zipfian — the top block grows linearly with the corpus.  j34
    now blocks on MinHash bands of the prefix's character q-grams
    (q = ``_J34_Q`` = 8; content-derived ~2^256 band domain — short
    grams fail, see the j34 docstring), so block size must track
    near-duplicate density, not corpus size.  This synthesizes a
    Zipf-first-token corpus at TWO scales (4× apart) and asserts:
    (a) the old key's top block really is huge here (the corpus has
    the property that killed it), (b) the new key's max block stays
    small and does NOT grow with the corpus, (c) Σ|block|² grows
    ~linearly (quadratic would be ~16× across a 4× scale-up), and
    (d) the full j34 query end-to-end still catches planted
    near-duplicate prefixes (edit distance 2)."""
    import random

    from big_data_fknn_spark.queries.llm import (
        _J34_Q,
        _j34_band_table,
        j34_fuzzy_editdist,
    )

    def corpus(n, planted):
        rng = random.Random(1234)
        # Zipf over 200 sentence-initial tokens: p(rank r) ∝ 1/r —
        # the top token starts ~17% of all documents.
        vocab = [f"tok{i:03d}" for i in range(200)]
        weights = [1.0 / (r + 1) for r in range(200)]
        rows = []
        for i in range(n):
            first = rng.choices(vocab, weights)[0]
            body = " ".join(
                f"w{rng.randrange(10**9):09d}" for _ in range(12)
            )
            rows.append((i, f"{first} {body}", "en"))
        for j in range(planted):
            text = rows[j][1]
            # two substitutions inside the 60-char prefix → edit dist 2
            mut = text[:25] + "XY" + text[27:]
            rows.append((n + j, mut, "en"))
        return rows

    metrics = {}
    for label, n in (("small", 16_000), ("large", 64_000)):
        planted = 60
        sf_dir = str(tmp_path / label)
        spark.createDataFrame(
            corpus(n, planted), "doc_id long, text string, lang string"
        ).repartition(8).write.parquet(f"{sf_dir}/documents.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

        # (a) the corpus really is Zipf-first-token: the OLD blocking
        # key's top block is enormous at this scale
        old_max = (
            docs.groupBy("lang", F.split_part(F.col("text"), F.lit(" "), F.lit(1)))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

        # new blocking key's block-size distribution, computed with
        # the exact band table the query joins on
        assert _J34_Q >= 8, "gram length is the frequent-gram-leak lever"
        d = docs.select(
            "doc_id", "lang", F.substring("text", 1, 60).alias("prefix")
        )
        blocks = (
            _j34_band_table(d)
            .groupBy("band", "key")
            .count()
            .agg(
                F.max("count").alias("mx"),
                F.sum(F.col("count") * F.col("count")).alias("ss"),
            )
            .collect()[0]
        )
        metrics[label] = (old_max, blocks["mx"], int(blocks["ss"]))

        # (d) end-to-end: every planted pair is within the 6-band
        # recall envelope (deterministic given the fixed seed/md5)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in j34_fuzzy_editdist(spark, sf_dir)
            .where(F.col("doc_b") >= n)
            .collect()
        }
        # the 2-char mutation kills ≤16 of ~53 8-grams → gram-jac
        # ≈ .54 → P(catch) ≈ .98/pair; deterministic given the seed
        caught = sum((j, n + j) in got for j in range(planted))
        assert caught >= planted - 10, f"{label}: caught {caught}/{planted}"

    (old_s, new_s, ss_s) = metrics["small"]
    (old_l, new_l, ss_l) = metrics["large"]
    # (a) Zipf property holds: old key's top block ~17% of corpus
    assert old_l > 8_000, f"corpus not Zipfian enough: old max block {old_l}"
    # (b) new key: max block small and NOT growing with the corpus
    assert new_l <= 16, f"LSH block blowup: max block {new_l}"
    assert new_l <= new_s + 8, f"max block grew with corpus: {new_s}->{new_l}"
    # (c) Σ|block|² ~linear: 4× corpus must stay well under the 16×
    # a quadratic key would show (old key: Σ|block|² ∝ n²)
    assert ss_l <= 8 * ss_s, f"sum-of-squares superlinear: {ss_s}->{ss_l}"


def test_j8_stop_shingle_cap_bounds_band_buckets(spark, tmp_path):
    """j34's lesson applied to whole-document LSH (j8/j51/j53): a
    POPULAR shingle whose fixed md5 lands lucky-small for both rows
    of a band captures a constant fraction of its mass into one
    bucket, and the exact verify then does |bucket|² work.  The
    shingle here is pre-searched so md5('0#s') and md5('1#s') both
    sit in the smallest ~0.8% of hash space (the lucky event, made
    deterministic), and is planted in 30% of a 12k-doc corpus of
    SHORT documents (20 words — small shingle count is the exposed
    regime).  Asserts the uncapped banding really does blow up on
    this corpus, and the shipped DF-capped pipeline (a) keeps every
    band bucket ≤ _LSH_MAXDF as proven in its comment (every bucket
    doc contains the band's argmin shingles, so bucket ≤ DF), and
    (b) still catches planted near-duplicate pairs."""
    import random

    from big_data_fknn_spark.queries.llm import (
        _LSH_MAXDF,
        _lsh_candidates,
        _minhash_exprs_spark,
        _BAND_R,
        _NH,
    )

    # md5('0#pop44924 of the') = 0077…, md5('1#…') = 00b5… (band 0)
    pop = "pop44924 of the"
    rng = random.Random(77)
    n = 12_000
    rows = []
    for i in range(n):
        words = [f"w{rng.randrange(10**8):08d}" for _ in range(20)]
        if i % 10 < 3:  # 30% carry the popular shingle
            at = rng.randrange(0, 18)
            words[at : at + 3] = pop.split(" ")
        rows.append((i, " ".join(words), "en"))
    # 40 planted near-dup pairs (one word changed → jac ≈ .9)
    for j in range(40):
        w = rows[j][1].split(" ")
        w[10] = "zz_mut"
        rows.append((n + j, " ".join(w), "en"))
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string, lang string").repartition(
        8
    ).write.parquet(f"{sf_dir}/documents.parquet")

    tok, cand = _lsh_candidates(spark, sf_dir)

    # (a) the hazard is real: UNCAPPED banding on the same shingle
    # table concentrates the popular-shingle mass into one bucket
    mh_uncapped = tok.groupBy("doc_id").agg(*_minhash_exprs_spark())
    band_arr = F.array(
        *[
            F.concat(F.col(f"h{_BAND_R * b}"), F.col(f"h{_BAND_R * b + 1}"))
            for b in range(_NH // _BAND_R)
        ]
    )
    uncapped_max = (
        mh_uncapped.select(F.posexplode(band_arr).alias("band", "key"))
        .groupBy("band", "key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert uncapped_max > 1_000, (
        f"adversarial corpus lost its teeth: uncapped max bucket {uncapped_max}"
    )

    # (b) shipped pipeline: every band bucket bounded by the DF cap
    rare = tok.groupBy("s").count().where(F.col("count") <= _LSH_MAXDF).select("s")
    capped_max = (
        tok.join(rare, "s")
        .groupBy("doc_id")
        .agg(*_minhash_exprs_spark())
        .select(F.posexplode(band_arr).alias("band", "key"))
        .groupBy("band", "key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert capped_max <= _LSH_MAXDF, f"bucket bound violated: {capped_max}"

    # (c) recall survives the cap: planted pairs are still candidates
    planted = cand.where(
        (F.col("doc_j") - F.col("doc_i") == n) & (F.col("doc_i") < 40)
    ).count()
    assert planted >= 38, f"planted recall dropped: {planted}/40"
    tok.unpersist()
