"""Unit tests for operators/rank.py — the range-bucketed global
rank/ntile/running-aggregate primitive.

The oracle-parity suite already proves the eight routed query keys
end-to-end; these tests pin the primitive itself against Spark's own
(single-partition, fine-at-test-scale) window results on adversarial
shapes the queries don't cover: duplicate-heavy leading keys (all
ties land in one bucket), descending order, bucket counts larger than
the row count, and the exact ntile tile-size law for every remainder
class.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_fknn_spark.operators.rank import (
    global_rank,
    global_running_agg,
    ntile_from_rank,
)


def _people(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )


@pytest.mark.parametrize("buckets", [1, 3, 8, 50])
def test_global_rank_matches_row_number_asc(spark, buckets):
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0]
    df = _people(spark, vals)
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
        ).collect()
    }
    gr = global_rank(df, [("v", True), ("id", True)], num_buckets=buckets)
    got = {r["id"]: r["rank"] for r in gr.df.collect()}
    assert got == expect
    assert gr.total == len(vals)


def test_global_rank_desc_and_heavy_duplicates(spark):
    # every leading value tied → all rows in ONE bucket (splits
    # dedupe away); rank must still be the exact total order
    df = _people(spark, [7.0] * 20)
    gr = global_rank(df, [("v", False), ("id", True)], num_buckets=6)
    got = {r["id"]: r["rank"] for r in gr.df.collect()}
    assert got == {i: i + 1 for i in range(20)}


@pytest.mark.parametrize("n,k", [(10, 4), (11, 4), (12, 4), (7, 10), (100, 7), (1, 3)])
def test_ntile_from_rank_matches_spark_ntile(spark, n, k):
    df = spark.range(n).select(F.col("id"))
    expect = {
        r["id"]: r["t"]
        for r in df.select(
            "id", F.ntile(k).over(Window.orderBy("id")).alias("t")
        ).collect()
    }
    got = {
        r["id"]: r["t"]
        for r in df.select(
            "id", ntile_from_rank(F.col("id") + 1, n, k).alias("t")
        ).collect()
    }
    assert got == expect


def test_running_max_exclusive_matches_window(spark):
    vals = [2.0, 2.0, 8.0, 1.0, 8.0, 3.0, 9.0, 0.5, 2.0, 7.0]
    df = _people(spark, vals).withColumn("m", (F.col("id") % 4).cast("double"))
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, -1)
    expect = {
        r["id"]: r["b"]
        for r in df.select("id", F.max("m").over(w).alias("b")).collect()
    }
    out = global_running_agg(
        df, [("v", True), ("id", True)], "m", "max", out_col="b", num_buckets=4
    )
    got = {r["id"]: r["b"] for r in out.collect()}
    assert got == expect  # includes the leading-row NULL


def test_running_sum_inclusive_matches_window(spark):
    vals = [5.0, 3.0, 3.0, 11.0, 2.0, 2.0, 2.0, 8.0]
    df = _people(spark, vals)
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    expect = {
        r["id"]: r["c"]
        for r in df.select("id", F.sum("v").over(w).alias("c")).collect()
    }
    out = global_running_agg(
        df,
        [("v", False), ("id", True)],
        "v",
        "sum",
        out_col="c",
        exclusive=False,
        num_buckets=3,
    )
    got = {r["id"]: r["c"] for r in out.collect()}
    assert got == pytest.approx(expect)


def test_global_rank_running_sum_and_totals(spark):
    vals = [4.0, 1.0, 3.0, 2.0, 5.0]
    df = _people(spark, vals)
    gr = global_rank(
        df,
        [("v", True), ("id", True)],
        rank_col="r",
        running_sum=("v", "cum"),
        num_buckets=2,
    )
    rows = {r["r"]: r["cum"] for r in gr.df.collect()}
    assert rows == pytest.approx({1: 1.0, 2: 3.0, 3: 6.0, 4: 10.0, 5: 15.0})
    assert gr.total == 5
    assert gr.running_total == pytest.approx(15.0)


def test_plan_has_no_single_partition_exchange(spark):
    """One bucketed pass for every leading key: a NULL-bearing and a
    string leading key plan the same single hash-partitioned Window as
    a plain numeric key — no union of slices, no cached input."""
    import re

    from big_data_fknn_spark.plans import (
        executed_plan,
        single_partition_window_feeds,
    )

    df = _people(spark, [float(x % 17) for x in range(200)])
    nulls = df.withColumn(
        "v", F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(F.col("v"))
    )
    strs = nulls.withColumn("v", F.format_string("k%02.0f", "v"))
    for name, inp in (("plain", df), ("null", nulls), ("string", strs)):
        gr = global_rank(inp, [("v", True), ("id", True)], num_buckets=8)
        plan = executed_plan(gr.df)
        assert "Exchange SinglePartition" not in plan, name
        assert not single_partition_window_feeds(plan), name
        windows = re.findall(r"^[\s+:-]*(?:\*\(\d+\) )?Window \[", plan, re.M)
        assert len(windows) == 1, (name, plan)
        assert "Union" not in plan and "InMemoryRelation" not in plan, (name, plan)


def test_null_leading_key_ranks_like_spark_window(spark):
    """NULL leading keys bucket at ±∞, so the NULL rows occupy the
    FIRST positions ascending / LAST descending, exactly Spark's
    window placement — for global_rank, its running sum and
    global_running_agg alike."""
    rows = [(0, 1.0), (1, None), (2, 3.0), (3, None), (4, 2.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    for asc in (True, False):
        ov = F.col("v").asc() if asc else F.col("v").desc()
        expect = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(ov, "id")).alias("rn")
            ).collect()
        }
        gr = global_rank(df, [("v", asc), ("id", True)], num_buckets=2)
        assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect, asc
        assert gr.total == len(rows)
    # the running sum carries across the NULL bucket
    gr = global_rank(
        df,
        [("v", True), ("id", True)],
        running_sum=("id", "cum"),
        sum_type="decimal(30,10)",
        num_buckets=2,
    )
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    expect_cum = {
        r["id"]: float(r["c"])
        for r in df.select(
            "id", F.sum(F.col("id").cast("decimal(30,10)")).over(w).alias("c")
        ).collect()
    }
    got_cum = {r["id"]: float(r["cum"]) for r in gr.df.collect()}
    assert got_cum == expect_cum
    assert float(gr.running_total) == float(sum(r[0] for r in rows))
    for asc in (True, False):
        ov = F.col("v").asc() if asc else F.col("v").desc()
        w = Window.orderBy(ov, "id").rowsBetween(Window.unboundedPreceding, 0)
        expect = {
            r["id"]: r["c"]
            for r in df.select("id", F.sum("id").over(w).alias("c")).collect()
        }
        out = global_running_agg(
            df,
            [("v", asc), ("id", True)],
            "id",
            "sum",
            out_col="c",
            exclusive=False,
            num_buckets=2,
        )
        assert {r["id"]: r["c"] for r in out.collect()} == expect, asc


def test_multi_global_rank_matches_individual_ranks(spark):
    from big_data_fknn_spark.operators.rank import multi_global_rank

    df = spark.createDataFrame(
        [(i, float((i * 7) % 13), float((i * 5) % 11)) for i in range(40)],
        "id long, a double, b double",
    )
    out, total = multi_global_rank(
        df,
        [
            ("ra", [("a", True), ("id", True)]),
            ("rb", [(F.col("b"), False), ("id", True)]),
        ],
        num_buckets=5,
    )
    assert total == 40
    wa = Window.orderBy("a", "id")
    wb = Window.orderBy(F.col("b").desc(), "id")
    ref = df.select(
        "id",
        F.row_number().over(wa).alias("ea"),
        F.row_number().over(wb).alias("eb"),
    )
    j = out.join(ref, "id")
    assert j.where((F.col("ra") != F.col("ea")) | (F.col("rb") != F.col("eb"))).count() == 0


def test_multi_global_rank_null_leading_key_ranks_like_spark_window(spark):
    from big_data_fknn_spark.operators.rank import multi_global_rank

    df = spark.createDataFrame(
        [
            (i, None if i % 4 == 0 else float(i % 5), None if i % 3 == 0 else float(i))
            for i in range(30)
        ],
        "id long, a double, b double",
    )
    out, total = multi_global_rank(
        df,
        [("ra", [("a", True), ("id", True)]), ("rb", [("b", False), ("id", True)])],
        num_buckets=3,
    )
    assert total == 30
    ref = df.select(
        "id",
        F.row_number().over(Window.orderBy("a", "id")).alias("ea"),
        F.row_number().over(Window.orderBy(F.col("b").desc(), "id")).alias("eb"),
    )
    got = {r["id"]: (r["ra"], r["rb"]) for r in out.collect()}
    assert got == {r["id"]: (r["ea"], r["eb"]) for r in ref.collect()}


def test_timestamp_and_date_leading_keys_bucket_correctly(spark):
    # blind cast(double) of a timestamp is NULL → would collapse to one
    # bucket; the type-dispatched projection must keep exact order
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 27) + 1:02d} 0{i % 9}:00:00") for i in range(60)],
        "id long, s string",
    ).select("id", F.col("s").cast("timestamp").alias("ts"))
    gr = global_rank(df, [("ts", True), ("id", True)], num_buckets=6)
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("ts", "id")).alias("rn")
        ).collect()
    }
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect

    dfd = df.select("id", F.col("ts").cast("date").alias("d"))
    grd = global_rank(dfd, [("d", True), ("id", True)], num_buckets=4)
    expectd = {
        r["id"]: r["rn"]
        for r in dfd.select(
            "id", F.row_number().over(Window.orderBy("d", "id")).alias("rn")
        ).collect()
    }
    assert {r["id"]: r["rank"] for r in grd.df.collect()} == expectd


def test_string_leading_key_ranks_like_spark_window(spark):
    """String LEADING keys are supported — global_rank prepends the
    monotone 6-byte prefix code as the bucketing column (ordering by
    (code, s, …) equals ordering by (s, …)), and NULL strings code to
    ±∞, Spark's window placement.  Shared prefixes, NULs, multi-byte
    UTF-8, empty strings and NULLs all ride along."""
    vals = [
        "a", "b", None, "", "sharedprefix-A", "sharedprefix-B",
        "sharedprefix", "sharedprefix-A-longer", "nul\x00mid", "étoile",
        "中文", "the", "the", None, "a",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, s string"
    )
    for asc in (True, False):
        os_ = F.col("s").asc() if asc else F.col("s").desc()
        expect = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(os_, "id")).alias("rn")
            ).collect()
        }
        gr = global_rank(df, [("s", asc), ("id", True)], num_buckets=3)
        assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect, asc


def test_ntile_from_rank_exhaustive_grid(spark):
    """Every (n, k) for n ≤ 60 — all remainder classes, tied base
    sizes, and n < k — evaluated through the ACTUAL ntile_from_rank
    Column (one 60-way union per k, since the formula bakes the
    driver-known total in as literals) against Spark's own ntile."""
    from functools import reduce

    rows = spark.range(1, 61).select(F.col("id").alias("n")).join(
        spark.range(1, 61).select(F.col("id").alias("r")), F.col("r") <= F.col("n")
    )
    for k in (1, 2, 3, 5, 7, 12):
        w = Window.partitionBy("n").orderBy("r")
        want = {
            (row["n"], row["r"]): row["t"]
            for row in rows.select("n", "r", F.ntile(k).over(w).alias("t")).collect()
        }
        frames = [
            spark.range(1, n + 1).select(
                F.lit(n).alias("n"),
                F.col("id").alias("r"),
                ntile_from_rank(F.col("id"), n, k).alias("t"),
            )
            for n in range(1, 61)
        ]
        got = {
            (row["n"], row["r"]): row["t"]
            for row in reduce(lambda a, b: a.unionByName(b), frames).collect()
        }
        assert got == want, f"k={k}"


def test_running_agg_unsupported_agg_rejected(spark):
    df = _people(spark, [1.0, 2.0])
    with pytest.raises(ValueError, match="supports agg"):
        global_running_agg(df, [("v", True), ("id", True)], "v", "avg")


# ---------------------------------------------------------------------------
# NaN leading keys (round-3 advisor finding): Spark orders NaN GREATEST
# in both directions, but negating the projection for descending turns
# -NaN into NaN — which used to land NaN rows in the LAST bucket while
# the in-bucket .desc() sort puts NaN FIRST.  The NaN→+inf mapping in
# _bucket_key must make both directions agree with Window exactly.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ascending", [True, False])
def test_global_rank_nan_matches_window_both_directions(spark, ascending):
    nan = float("nan")
    vals = [1.0, nan, 2.0, 3.0, nan, 0.5, nan, -1.0, 2.0]
    df = _people(spark, vals)
    o = F.col("v").asc() if ascending else F.col("v").desc()
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(o, F.col("id"))).alias("rn")
        ).collect()
    }
    gr = global_rank(df, [("v", ascending), ("id", True)], num_buckets=4)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect


def test_running_max_nan_desc_matches_window(spark):
    nan = float("nan")
    df = _people(spark, [5.0, nan, 1.0, nan, 3.0]).withColumn(
        "m", F.col("id").cast("double")
    )
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    expect = {
        r["id"]: r["b"]
        for r in df.select("id", F.max("m").over(w).alias("b")).collect()
    }
    out = global_running_agg(
        df, [("v", False), ("id", True)], "m", "max", out_col="b", num_buckets=3
    )
    assert {r["id"]: r["b"] for r in out.collect()} == expect


# ---------------------------------------------------------------------------
# Tie-skew refinement (the round-3 verdict's scale-killer): a leading
# key whose mode class dominates the table must not collapse into one
# bucket.  The skew floor is patched to 0 so test-sized inputs take the
# refinement path; the 500k test in test_scale_stress.py exercises it
# at the real thresholds.
# ---------------------------------------------------------------------------


def _no_skew_floor(monkeypatch):
    from big_data_fknn_spark.operators import rank

    monkeypatch.setattr(rank, "_MIN_SKEW_ROWS", 0)
    return rank


def _max_bucket(by_bucket) -> int:
    return max(int(r["__cnt"]) for r in by_bucket.values())


def test_tie_refinement_exact_and_balanced_numeric_tiebreak(spark, monkeypatch):
    rank = _no_skew_floor(monkeypatch)
    n = 2000
    # 60% of rows tied on the leading key — on a value, then on NULL
    # (the ±∞ tie bucket, both directions); numeric tiebreaker
    for tied, asc in ((7.0, True), (None, True), (None, False)):
        df = spark.range(n).select(
            "id",
            F.when(F.col("id") % 5 < 3, F.lit(tied).cast("double"))
            .otherwise(F.col("id").cast("double"))
            .alias("v"),
        )
        order = [("v", asc), ("id", True)]
        gr = rank.global_rank(df, order, num_buckets=8)
        ov = F.col("v").asc() if asc else F.col("v").desc()
        expect = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(ov, "id")).alias("rn")
            ).collect()
        }
        assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect, tied
        tagged, [(_, by_bucket)], total = rank._tag_balanced(df, [order], 8, [])
        assert total == n
        assert _max_bucket(by_bucket) <= 4 * (n / 8), (
            tied,
            asc,
            sorted(int(r["__cnt"]) for r in by_bucket.values()),
        )


@pytest.mark.parametrize("tie_asc", [True, False])
def test_tie_refinement_string_tiebreaker_with_nulls(spark, monkeypatch, tie_asc):
    """The j44 shape: Zipfian counts ranked desc with a string token
    tiebreaker — refinement goes through the 6-byte binary-prefix code.
    Includes NULL tiebreakers (mapped to ±inf to match Spark's
    NULLS FIRST asc / NULLS LAST desc) and shared prefixes."""
    rank = _no_skew_floor(monkeypatch)
    n = 1500
    df = spark.range(n).select(
        "id",
        # 50% of rows at cnt=1 (the singleton class), rest distinct-ish
        F.when(F.col("id") % 2 == 0, F.lit(1))
        .otherwise((F.col("id") % 97) + 2)
        .cast("long")
        .alias("cnt"),
        F.when(F.col("id") % 151 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("tok_"), F.lpad((F.col("id") * 37 % n).cast("string"), 6, "0"))
        ).alias("token"),
    )
    o2 = F.col("token").asc() if tie_asc else F.col("token").desc()
    order = [("cnt", False), ("token", tie_asc), ("id", True)]
    gr = rank.global_rank(df, order, num_buckets=8)
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), o2, F.col("id")))
            .alias("rn"),
        ).collect()
    }
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    tagged, [(_, by_bucket)], total = rank._tag_balanced(df, [order], 8, [])
    assert total == n
    assert _max_bucket(by_bucket) <= 4 * (n / 8), sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )


def test_tie_refinement_two_levels_deep(spark, monkeypatch):
    """Leading key constant AND second key heavily tied: refinement
    must recurse to the third order column (even/odd sub-buckets keep
    deeper tie classes refinable)."""
    rank = _no_skew_floor(monkeypatch)
    n = 1200
    df = spark.range(n).select(
        "id",
        F.lit(1.0).alias("a"),
        (F.col("id") % 3).cast("double").alias("b"),
    )
    order = [("a", True), ("b", True), ("id", True)]
    gr = rank.global_rank(df, order, num_buckets=6)
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("a", "b", "id")).alias("rn")
        ).collect()
    }
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    tagged, [(_, by_bucket)], total = rank._tag_balanced(df, [order], 6, [])
    assert _max_bucket(by_bucket) <= 4 * (n / 6), sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )


def test_tie_refinement_running_sum_and_multi(spark, monkeypatch):
    """running_sum offsets and multi_global_rank's per-spec counts must
    come from the REFINED buckets (a recount runs after every remap)."""
    rank = _no_skew_floor(monkeypatch)
    n = 1000
    df = spark.range(n).select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit(5.0))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
        ((F.col("id") * 13) % 41).cast("double").alias("m"),
    )
    # running sum with a tied leading key
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    expect = {
        r["id"]: r["c"]
        for r in df.select("id", F.sum("m").over(w).alias("c")).collect()
    }
    gr = rank.global_rank(
        df, [("v", False), ("id", True)], running_sum=("m", "c"), num_buckets=8
    )
    got = {r["id"]: r["c"] for r in gr.df.collect()}
    assert got == pytest.approx(expect)
    # multi: one skewed metric, one smooth
    out, total = rank.multi_global_rank(
        df,
        [
            ("rv", [("v", True), ("id", True)]),
            ("rm", [("m", False), ("id", True)]),
        ],
        num_buckets=8,
    )
    assert total == n
    ref = df.select(
        "id",
        F.row_number().over(Window.orderBy("v", "id")).alias("ev"),
        F.row_number().over(Window.orderBy(F.col("m").desc(), "id")).alias("em"),
    )
    j = out.join(ref, "id")
    assert (
        j.where((F.col("rv") != F.col("ev")) | (F.col("rm") != F.col("em"))).count()
        == 0
    )


def test_string_prefix_code_is_monotone(spark):
    """The 6-byte binary-prefix code must be non-strictly monotone
    under Spark's UTF8 binary string order — including short strings,
    shared prefixes, multi-byte UTF-8, and the empty string."""
    from big_data_fknn_spark.operators.rank import _bucket_key

    vals = ["", "a", "ab", "aba", "abac", "ac", "b", "ba", "zzzzzzz",
            "zzzzzzzz", "étoile", "étoile", "中文", "中", "\x01", "aaaaaaA"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    key = _bucket_key(df, F.col("s"), True, allow_string=True)
    rows = df.select("s", key.alias("k")).collect()
    got = {r["s"]: r["k"] for r in rows}
    ordered = [r["s"] for r in df.orderBy("s").collect()]
    for a, b in zip(ordered, ordered[1:]):
        assert got[a] <= got[b], (a, b, got[a], got[b])


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_global_rank_fuzz_adversarial_mixes(spark, monkeypatch, seed):
    """Seeded fuzz over the corner-case INTERACTIONS the pointed tests
    cover one at a time: a heavy tie class + NaN rows + discrete
    clusters + continuous tail on the leading key, a string tiebreaker
    with NULLs / empty strings / shared 6-byte prefixes / multi-byte
    UTF-8, all four asc/desc direction combinations, with the skew
    floor at 0 so refinement always engages.  Ground truth is Spark's
    own single-partition Window at test size."""
    import random

    rank = _no_skew_floor(monkeypatch)
    rng = random.Random(seed)
    n = 400
    rows = []
    specials = [
        None,
        "",
        "aa",
        "ab",
        "aaaaaaa",
        "aaaaaab",
        "z",
        "étoile",
        "中文",
        # continuation-window shapes: long shared prefixes differing
        # past one (or two) 6-byte windows, embedded/trailing NULs,
        # and a pair equal through every byte of the shorter one
        "sharedprefix-A",
        "sharedprefix-B",
        "sharedprefix",
        "sharedprefix-A-longer",
        "nul\x00mid",
        "nul\x00mid\x00",
        "sharedprefix-A\x00",
    ]
    for i in range(n):
        r = rng.random()
        if r < 0.40:
            v = 7.0  # dominant tie class → refinement path
        elif r < 0.50:
            v = float("nan")
        elif r < 0.62:
            v = float(rng.choice([1, 2, 3]))
        else:
            v = round(rng.uniform(0.0, 100.0), 3)
        if rng.random() < 0.40:
            s = rng.choice(specials)
        else:
            s = f"k{rng.randrange(40):03d}"
        rows.append((i, v, s))
    df = spark.createDataFrame(rows, "id long, v double, s string")
    for asc_v in (True, False):
        for asc_s in (True, False):
            ov = F.col("v").asc() if asc_v else F.col("v").desc()
            os_ = F.col("s").asc() if asc_s else F.col("s").desc()
            expect = {
                r["id"]: r["rn"]
                for r in df.select(
                    "id",
                    F.row_number().over(Window.orderBy(ov, os_, "id")).alias("rn"),
                ).collect()
            }
            # alternate bucket counts across the single-level (7) and
            # two-level (> _TWO_LEVEL_MIN splits possible) regimes so
            # the fuzz mixes also drive the chunked lookup
            buckets = 7 if asc_v == asc_s else rank._TWO_LEVEL_MIN * 2
            gr = rank.global_rank(
                df, [("v", asc_v), ("s", asc_s), ("id", True)], num_buckets=buckets
            )
            got = {r["id"]: r["rank"] for r in gr.df.collect()}
            assert got == expect, f"seed={seed} asc_v={asc_v} asc_s={asc_s}"


def test_global_rank_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "id long, v double")
    gr = global_rank(empty, [("v", True), ("id", True)], num_buckets=4)
    assert gr.total == 0 and gr.df.count() == 0
    one = _people(spark, [42.0])
    gr1 = global_rank(
        one, [("v", False), ("id", True)], running_sum=("v", "c"), num_buckets=4
    )
    rows = gr1.df.collect()
    assert gr1.total == 1 and len(rows) == 1
    assert rows[0]["rank"] == 1 and rows[0]["c"] == 42.0
    assert gr1.running_total == 42.0


def test_boolean_leading_key_and_timestamp_tiebreak_refinement(spark, monkeypatch):
    """Boolean leading keys are maximal tie classes by construction
    (two values); refinement must engage and sub-split on a TIMESTAMP
    tiebreaker through the unix_micros projection."""
    rank = _no_skew_floor(monkeypatch)
    n = 600
    df = spark.range(n).select(
        "id",
        (F.col("id") % 3 == 0).alias("flag"),
        F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("id") * 37) % 500).alias(
            "ts"
        ),
    )
    order = [("flag", False), ("ts", True), ("id", True)]
    gr = rank.global_rank(df, order, num_buckets=6)
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("flag").desc(), "ts", "id"))
            .alias("rn"),
        ).collect()
    }
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    tagged, [(_, by_bucket)], total = rank._tag_balanced(df, [order], 6, [])
    assert total == n
    assert _max_bucket(by_bucket) <= 4 * (n / 6), sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )


def test_two_level_bucket_expr_matches_window_large_b(spark):
    """Above _TWO_LEVEL_MIN splits the bucket id switches to the
    two-level √B lookup (chunk bounds → one chunk scan) — same pure
    function, O(2√B) per row instead of O(B).  Pin it against Spark's
    window on a smooth key (full distinct split array) and a
    tie-heavy key (duplicate raw splits → even/odd tie buckets ride
    the two-level path too), at a bucket count big enough that the
    clamped-last-chunk and short-final-chunk edges are exercised."""
    from big_data_fknn_spark.operators.rank import _TWO_LEVEL_MIN

    n = 5000
    buckets = 4 * _TWO_LEVEL_MIN  # well into the two-level regime
    smooth = spark.range(n).select(
        "id", ((F.col("id") * 2654435761) % 1000003).cast("double").alias("v")
    )
    tied = spark.range(n).select(
        "id",
        F.when(F.col("id") % 2 == 0, 7.0)
        .otherwise((F.col("id") % 40).cast("double"))
        .alias("v"),
    )
    for df in (smooth, tied):
        expect = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
            ).collect()
        }
        gr = global_rank(df, [("v", True), ("id", True)], num_buckets=buckets)
        assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
        desc = global_rank(df, [("v", False), ("id", True)], num_buckets=buckets)
        expect_d = {
            r["id"]: r["rn"]
            for r in df.select(
                "id",
                F.row_number()
                .over(Window.orderBy(F.col("v").desc(), "id"))
                .alias("rn"),
            ).collect()
        }
        assert {r["id"]: r["rank"] for r in desc.df.collect()} == expect_d


def test_lossy_projection_tie_buckets_are_not_refined(spark, monkeypatch):
    """Regression (round-4 fuzz find): a tie bucket created from a
    LOSSY projection holds rows equal on the projection but not on
    the true column — refining it on the NEXT ORDER COLUMN would
    interleave them.  Distilled shapes:

    * strings sharing a 6-byte prefix ('aaaaaab' vs 'aaaaaaa' share
      the first window code) under a dominant leading tie, ranked
      with the string DESC so the conflated rows sit at a bucket
      boundary — these now refine CORRECTLY via window continuation
      (bytes 7-12), and the embedded-NUL rows must never let the
      loop advance past the string column;
    * a double leading key mixing NaN with real ±inf (both project
      to the same bucket key, but Spark sorts NaN greatest);

    and the positive case: an ALL-NaN tie class (no real inf) is
    genuinely all-equal, so the gate must still allow refining it."""
    rank = _no_skew_floor(monkeypatch)

    # shared 6-byte prefix: many rows at v=7.0, tiebreaker strings
    # that only differ at byte 7 — plus strings with embedded NULs
    n = 300
    rows = [
        (i, 7.0, ("aaaaaab" if i % 3 == 0 else "aaaaaaa" if i % 3 == 1 else "aaaaaa\x00x"))
        for i in range(n - 50)
    ] + [(i, float(i), f"k{i}") for i in range(n - 50, n)]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    for asc_s in (True, False):
        os_ = F.col("s").asc() if asc_s else F.col("s").desc()
        expect = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy("v", os_, "id")).alias("rn")
            ).collect()
        }
        gr = rank.global_rank(
            df, [("v", True), ("s", asc_s), ("id", True)], num_buckets=32
        )
        assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect

    # NaN mixed with real infinities on the leading key
    vals = ([float("nan")] * 40 + [float("inf")] * 40 + [float("-inf")] * 5
            + [float(i) for i in range(35)])
    df2 = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    for asc in (True, False):
        ov = F.col("v").asc() if asc else F.col("v").desc()
        expect = {
            r["id"]: r["rn"]
            for r in df2.select(
                "id", F.row_number().over(Window.orderBy(ov, "id")).alias("rn")
            ).collect()
        }
        gr = rank.global_rank(df2, [("v", asc), ("id", True)], num_buckets=8)
        assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect, f"asc={asc}"

    # all-NaN tie class with NO real inf: the gate must not block
    # refinement (rows genuinely equal on the leading column)
    vals3 = [float("nan")] * 160 + [float(i) for i in range(40)]
    df3 = spark.createDataFrame(
        [(i, v, float(i % 7)) for i, v in enumerate(vals3)],
        "id long, v double, w double",
    )
    expect = {
        r["id"]: r["rn"]
        for r in df3.select(
            "id", F.row_number().over(Window.orderBy("v", "w", "id")).alias("rn")
        ).collect()
    }
    gr = rank.global_rank(
        df3, [("v", True), ("w", True), ("id", True)], num_buckets=8
    )
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    # and it actually refined: the 160-row NaN class must not sit in
    # one bucket (threshold 4 * 200/8 = 100 < 160 with the floor at 0)
    tagged, [(_, by_bucket)], _ = rank._tag_balanced(
        df3, [[("v", True), ("w", True), ("id", True)]], 8, []
    )
    assert _max_bucket(by_bucket) < 160


def test_decimal_leading_key_tie_refinement_and_gate(spark, monkeypatch):
    """Decimal keys are what the registered queries actually rank
    (revenue/acctbal).  Two regimes of the injectivity gate:

    * DECIMAL(12,2) — 12 significant digits round-trip the double
      projection uniquely, so a dominant tie class MUST be sub-split
      on the next order column (balance) and stay exact;
    * DECIMAL(30,10) — past 15 digits the projection can conflate
      distinct values, so tie buckets must NOT refine deeper: ranks
      stay exact (in-bucket sort uses the true column) but the tie
      class keeps its single bucket."""
    from decimal import Decimal

    rank = _no_skew_floor(monkeypatch)
    n = 400
    rows = [
        (i, Decimal("7.50") if i % 5 < 3 else Decimal(i) / 4, float(i % 13))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, v decimal(12,2), w double")
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "w", "id")).alias("rn")
        ).collect()
    }
    order = [("v", True), ("w", True), ("id", True)]
    gr = rank.global_rank(df, order, num_buckets=8)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    _, [(_, by_bucket)], total = rank._tag_balanced(df, [order], 8, [])
    assert total == n
    # the 240-row tie class refined: threshold 4 * 400/8 = 200 < 240
    assert _max_bucket(by_bucket) < 240, sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )

    # DECIMAL(30,10): same shape, values that need > 15 digits —
    # distinct in decimal, equal after the double cast
    base = Decimal("12345678901234.5678901234")
    rows30 = [
        (
            i,
            Decimal("7.5") if i % 5 < 3 else base + Decimal(i) * Decimal("1e-10"),
            float(i % 13),
        )
        for i in range(n)
    ]
    df30 = spark.createDataFrame(rows30, "id long, v decimal(30,10), w double")
    expect30 = {
        r["id"]: r["rn"]
        for r in df30.select(
            "id", F.row_number().over(Window.orderBy("v", "w", "id")).alias("rn")
        ).collect()
    }
    gr30 = rank.global_rank(df30, order, num_buckets=8)
    assert {r["id"]: r["rank"] for r in gr30.df.collect()} == expect30
    _, [(_, by_bucket30)], _ = rank._tag_balanced(df30, [order], 8, [])
    # gate blocked refinement: the 240-row tie class stays one bucket
    assert _max_bucket(by_bucket30) >= 240


def test_unprojectable_middle_column_stops_refinement(spark, monkeypatch):
    """Regression (round-4 find, reproduced with 320/400 rank
    inversions before the fix): when an order column has no monotone
    numeric projection (here an array), the refinement loop used to
    SKIP it and sub-split the same tie buckets on a LATER column —
    but the bucket's rows still differ on the skipped column, so the
    later column's buckets invert the global order.  The loop must
    stop refining instead (the fat bucket stays correct via its
    in-bucket sort)."""
    rank = _no_skew_floor(monkeypatch)
    n = 400
    # heavy tie on v; the array column deliberately DISAGREES with w
    rows = [
        (i, 7.0 if i % 5 < 4 else float(i), [n - i], float(i % 50))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, v double, a array<int>, w double")
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number().over(Window.orderBy("v", "a", "w", "id")).alias("rn"),
        ).collect()
    }
    gr = rank.global_rank(
        df, [("v", True), ("a", True), ("w", True), ("id", True)], num_buckets=8
    )
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect


def test_string_continuation_refines_long_shared_prefixes(spark, monkeypatch):
    """The j44 worst case the one-level scheme could not balance: a
    dominant cnt=1 tie class whose token strings share a LONG common
    prefix (URL corpora, subword vocabularies).  The first 6-byte
    window is all-equal, so refinement must CONTINUE across windows
    (bytes 7-12, 13-18, ...) until the discriminating bytes, then
    split — exact ranks and a tie class broken below the skew
    threshold."""
    rank = _no_skew_floor(monkeypatch)
    n = 2000
    rows = [
        (i, 1 if i % 5 < 4 else i, f"https://site.example/{i * 37 % n:06d}")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, cnt long, token string")
    order = [("cnt", False), ("token", True), ("id", True)]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "token", "id"))
            .alias("rn"),
        ).collect()
    }
    gr = rank.global_rank(df, order, num_buckets=8)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    _, [(_, by_bucket)], total = rank._tag_balanced(df, [order], 8, [])
    assert total == n
    # 1600-row tie class, threshold 4 * 2000/8 = 1000: without
    # continuation the all-equal first window left it whole
    assert _max_bucket(by_bucket) <= 1000, sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )


def test_string_continuation_exhausts_then_next_column_refines(spark, monkeypatch):
    """Tie class whose strings are IDENTICAL (10 bytes — beyond one
    window, so the loop walks a continuation window first): once the
    windows are consumed the bucket is provably equal on the true
    string and must advance to the numeric third column to balance."""
    rank = _no_skew_floor(monkeypatch)
    n = 1200
    rows = [
        (
            i,
            7.0 if i % 4 < 3 else float(i),
            "tok4567890" if i % 4 < 3 else f"z{i:08d}x",
            float((i * 13) % 101),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, v double, s string, w double")
    order = [("v", True), ("s", True), ("w", True), ("id", True)]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number().over(Window.orderBy("v", "s", "w", "id")).alias("rn"),
        ).collect()
    }
    gr = rank.global_rank(df, order, num_buckets=8)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    _, [(_, by_bucket)], _ = rank._tag_balanced(df, [order], 8, [])
    # the 900-row identical-string class refined on w: threshold
    # 4 * 1200/8 = 600 < 900
    assert _max_bucket(by_bucket) <= 600, sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )


def test_window_jump_reaches_divergent_byte_within_few_stages(spark, monkeypatch):
    """Pins the min/max window JUMP: with the stage budget clamped to
    3, a 25-byte shared prefix can only balance if the driver jumps
    straight to the first divergent byte — walking 6-byte windows
    would burn 5 stages on all-equal windows first."""
    rank = _no_skew_floor(monkeypatch)
    monkeypatch.setattr(rank, "_MAX_REFINE_STAGES", 3)
    n = 1500
    rows = [
        (
            i,
            1 if i % 5 < 4 else i,
            f"https://site.example/doc-{i * 37 % n:06d}",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, cnt long, token string")
    order = [("cnt", False), ("token", True), ("id", True)]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "token", "id"))
            .alias("rn"),
        ).collect()
    }
    gr = rank.global_rank(df, order, num_buckets=8)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    _, [(_, by_bucket)], _ = rank._tag_balanced(df, [order], 8, [])
    # 1200-row tie class, threshold 4 * 1500/8 = 750: balanced only
    # if the jump landed within the 3-stage budget
    assert _max_bucket(by_bucket) <= 750, sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )


def test_multi_global_rank_string_tiebreak_continuation(spark, monkeypatch):
    """multi_global_rank shares _refine_loop, but its per-metric tie
    sets and flags come from the shared GROUPING SETS job — pin that
    path with one tie-heavy metric whose string tiebreaker needs
    window continuation (shared 9-byte prefix) and one smooth
    metric."""
    from big_data_fknn_spark.operators.rank import multi_global_rank

    rank = _no_skew_floor(monkeypatch)
    n = 900
    rows = [
        (
            i,
            1 if i % 3 < 2 else i,
            f"prefix-xx{i * 31 % n:05d}",
            float((i * 17) % 251),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, cnt long, tok string, m double")
    out, total = multi_global_rank(
        df,
        [
            ("rc", [("cnt", False), ("tok", True), ("id", True)]),
            ("rm", [("m", True), ("id", True)]),
        ],
        num_buckets=8,
    )
    assert total == n
    ref = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "tok", "id"))
        .alias("ec"),
        F.row_number().over(Window.orderBy("m", "id")).alias("em"),
    )
    j = out.join(ref, "id")
    assert (
        j.where((F.col("rc") != F.col("ec")) | (F.col("rm") != F.col("em"))).count()
        == 0
    )


def test_running_sum_string_tiebreak_continuation(spark, monkeypatch):
    """global_running_agg under window continuation: the per-bucket
    prefix sums are re-collected at every refinement remap, so a
    tie-heavy order whose string tiebreaker needs continuation (and a
    jump) must still produce the exact inclusive running sum."""
    rank = _no_skew_floor(monkeypatch)
    n = 800
    rows = [
        (
            i,
            1.0 if i % 4 < 3 else float(i),
            f"deep/shared/prefix/{i * 23 % n:05d}",
            float((i * 7) % 97),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, v double, s string, m double")
    w = Window.orderBy("v", "s", "id").rowsBetween(Window.unboundedPreceding, 0)
    expect = {
        r["id"]: r["t"]
        for r in df.select("id", F.sum("m").over(w).alias("t")).collect()
    }
    out = rank.global_running_agg(
        df,
        [("v", True), ("s", True), ("id", True)],
        "m",
        "sum",
        out_col="c",
        exclusive=False,
        num_buckets=8,
    )
    got = {r["id"]: r["c"] for r in out.collect()}
    assert got == pytest.approx(expect)


# ---------------------------------------------------------------------------
# Round-5 ADVICE regressions: three driver-logic holes in the
# refinement loop, each reproduced end-to-end against the plain
# window truth.
# ---------------------------------------------------------------------------


def test_dominant_value_in_window_refines_instead_of_advancing(spark, monkeypatch):
    """ADVICE r4 (high): percentile splits collapse to ONE tied value
    whenever a dominant value holds ~(1-1/sub_n) of a bucket's mass —
    which is NOT proof the bucket's strings are equal on the whole
    column.  98% 'the' + 2% 'theZ...' diverge at byte 4, INSIDE the
    first window; the old shortcut advanced to the id column and
    interleaved them.  The fixed loop falls through to the remap (the
    single tied split still separates <v / =v / >v), then proves
    column equality on the consumed window before advancing."""
    rank = _no_skew_floor(monkeypatch)
    n = 2000
    rows = []
    for i in range(n):
        if i % 10 < 7:  # 70% tie class on the leading key
            s = f"theZ-{i:08d}-suffix" if i % 50 == 2 else "the"
            rows.append((i, -1.0, s))
        else:
            rows.append((i, float(i), f"w{i:06d}"))
    df = spark.createDataFrame(rows, "id long, v double, s string")
    order = [("v", True), ("s", True), ("id", True)]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "s", "id")).alias("rn")
        ).collect()
    }
    gr = rank.global_rank(df, order, num_buckets=8)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect
    # the 'the' mode class (~1372 rows) must end up refined on id,
    # not parked in one oversized bucket by the bogus advance
    _, [(_, by_bucket)], total = rank._tag_balanced(df, [order], 8, [])
    assert total == n
    assert _max_bucket(by_bucket) <= 4 * (n / 8), sorted(
        int(r["__cnt"]) for r in by_bucket.values()
    )


def test_window_jump_keeps_flags_gate_for_lossy_buckets(spark, monkeypatch):
    """ADVICE r4 (medium): the window JUMP does not remap tie_ids, so
    a flags=False bucket (here: longs beyond 2^53 conflated by the
    double projection) excluded before the jump must stay excluded
    after it.  The old path set cont=True on the jump, which made
    eligibility unconditional and sub-split the lossy bucket on the
    string windows — interleaving rows that differ on the TRUE long
    column (string order is built to conflict with long order)."""
    rank = _no_skew_floor(monkeypatch)
    n = 2000
    big0, big1 = (1 << 60), (1 << 60) + 1  # equal after cast to double
    rows = []
    for i in range(n):
        if i % 5 < 2:  # 40%: lossy-long class; string order CONFLICTS
            big = big0 if i % 2 == 0 else big1
            tail = "Z" if i % 2 == 0 else "A"
            rows.append((i, 0.0, big, f"pppppppppppp{tail}{i:06d}"))
        elif i % 5 < 4:  # 40%: clean class with a 12-byte shared prefix
            rows.append((i, 1.0, 5, f"PREFIXPREFIX{i * 13 % n:06d}"))
        else:
            rows.append((i, 2.0 + i, int(i), f"x{i:06d}"))
    df = spark.createDataFrame(rows, "id long, g double, big long, s string")
    order = [("g", True), ("big", True), ("s", True), ("id", True)]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy("g", "big", "s", "id"))
            .alias("rn"),
        ).collect()
    }
    gr = rank.global_rank(df, order, num_buckets=32)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect


def test_null_and_real_negative_infinity_tiebreak_not_conflated(spark, monkeypatch):
    """ADVICE r4 (medium): the NULL tiebreaker image (-inf asc) is the
    one place a REAL double value reaches it.  A tie bucket mixing
    NULL and -Infinity rows passed the old NaN-only gate and was
    refined on id — interleaving NULLS-FIRST rows with -inf rows.
    The fixed gate fails on inf+NULL coexistence, so the bucket stays
    whole (possibly oversized — the documented trade) and the
    in-bucket sort keeps NULLs first."""
    rank = _no_skew_floor(monkeypatch)
    n = 2000
    neg_inf = float("-inf")
    rows = []
    for i in range(n):
        if i % 10 < 7:  # 70% tie class on the leading key
            if i % 10 < 2:
                d = None
            elif i % 10 < 4:
                d = neg_inf
            else:
                d = float((i * 7) % 500)
            rows.append((i, -1.0, d))
        else:
            rows.append((i, float(i), float(i)))
    df = spark.createDataFrame(rows, "id long, v double, d double")
    order = [("v", True), ("d", True), ("id", True)]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "d", "id")).alias("rn")
        ).collect()
    }
    gr = rank.global_rank(df, order, num_buckets=32)
    assert {r["id"]: r["rank"] for r in gr.df.collect()} == expect


def test_null_mixed_with_single_value_bucket_is_not_proven_equal(
    spark, monkeypatch
):
    """ADVICE r5 (medium): F.min/F.max skip NULLs, so a tie bucket
    mixing NULL strings with ONE repeated non-null value showed
    min==max and the degenerate-splits branch declared PROOF of
    column equality — advancing to the id column and interleaving
    NULLS-FIRST rows with value rows.  The fixed _disc counts NULLs
    (__nulv) and treats the NULL/value mix as divergent INSIDE the
    window, falling through to the remap where NULL maps to ±inf and
    separates order-correctly."""
    rank = _no_skew_floor(monkeypatch)
    n = 2000
    rows = []
    for i in range(n):
        if i % 10 < 7:  # 70% tie class on the leading key
            s = None if i % 33 == 0 else "the"  # ~3% NULLs + one value
            rows.append((i, -1.0, s))
        else:
            rows.append((i, float(i), f"w{i:06d}"))
    df = spark.createDataFrame(rows, "id long, v double, s string")
    order = [("v", True), ("s", True), ("id", True)]
    expect = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "s", "id")).alias("rn")
        ).collect()
    }
    for asc_s in (True, False):
        ov = [("v", True), ("s", asc_s), ("id", True)]
        os_ = F.col("s").asc() if asc_s else F.col("s").desc()
        exp = {
            r["id"]: r["rn"]
            for r in df.select(
                "id",
                F.row_number()
                .over(Window.orderBy("v", os_, "id"))
                .alias("rn"),
            ).collect()
        }
        gr = rank.global_rank(df, ov, num_buckets=8)
        got = {r["id"]: r["rank"] for r in gr.df.collect()}
        assert got == exp, f"asc_s={asc_s}"


# ---------------------------------------------------------------- property fuzz

def _fuzz_column(rng, kind):
    """Generator for one order-column value of the given kind, mixing
    a dominant tie class (to force refinement at floor 0), NULLs, and
    the lossy-projection hazards each type carries."""
    import decimal

    if kind == "double":
        specials = [
            float("nan"), float("inf"), float("-inf"), None,
            0.0, -0.0, 1e308, -1e308, 5e-324,
        ]
        dominant = 7.25

        def gen():
            r = rng.random()
            if r < 0.45:
                return dominant
            if r < 0.60:
                return rng.choice(specials)
            return round(rng.uniform(-50.0, 50.0), 3)

        return "double", gen
    if kind == "long_big":
        # beyond 2^53: a double cast is lossy, so the injectivity
        # evidence gate must keep these in the remap path
        base = (1 << 53) + 7
        specials = [None, -(1 << 62), (1 << 62), base, base + 1, base + 2]

        def gen():
            r = rng.random()
            if r < 0.45:
                return base
            if r < 0.60:
                return rng.choice(specials)
            return rng.randrange(-(1 << 61), 1 << 61)

        return "long", gen
    if kind == "decimal_wide":
        # > 15 significant digits: lossy under double projection
        dom = decimal.Decimal("12345678901234567.123456789012345678")
        near = dom + decimal.Decimal("1e-18")

        def gen():
            r = rng.random()
            if r < 0.45:
                return dom
            if r < 0.55:
                return near
            if r < 0.62:
                return None
            return decimal.Decimal(rng.randrange(-(10 ** 20), 10 ** 20)) / (
                10 ** 18
            )

        return "decimal(38,18)", gen
    if kind == "string":
        specials = [
            None, "", "aa", "sharedprefix", "sharedprefix-A",
            "sharedprefix-B", "sharedprefix-A-longer", "nul\x00mid",
            "nul\x00mid\x00", "étoile", "中文", "the",
        ]

        def gen():
            r = rng.random()
            if r < 0.45:
                return "the"
            if r < 0.65:
                return rng.choice(specials)
            return f"w{rng.randrange(30):02d}"

        return "string", gen
    # int_small: heavy Zipfian ties
    def gen():
        r = rng.random()
        if r < 0.05:
            return None
        return min(int(1.0 / max(rng.random(), 1e-6)), 40)

    return "int", gen


@pytest.mark.parametrize("seed", [101, 211, 307, 401, 503])
def test_global_rank_property_fuzz_random_schemas(spark, monkeypatch, seed):
    """Round-5 verdict item 3: rounds 4-5 found FOUR rank-order bugs by
    targeted adversarial thought; this is the standing randomized net.
    Each seed generates 4 scenarios: a random 2-4-column order over a
    random mix of hazardous types (doubles with NaN/±Inf/NULL, longs
    beyond 2^53, >15-digit decimals, strings with NULs / shared
    prefixes / multi-byte / NULLs, Zipf-tied ints), random asc/desc per
    column, skew floor 0 and a small/two-level bucket count — and
    asserts global_rank equals the plain single-partition Window truth
    row for row.  Any counterexample should be minimized into its own
    named regression above."""
    import random

    rank = _no_skew_floor(monkeypatch)
    kinds = ["double", "long_big", "decimal_wide", "string", "int_small"]
    for scenario in range(4):
        rng = random.Random(seed * 1000 + scenario)
        n_cols = rng.randint(2, 4)
        cols = []
        for ci in range(n_cols):
            # any kind may lead: strings bucket via their prefix code,
            # NULLs via ±∞
            kind = rng.choice(kinds)
            dt, gen = _fuzz_column(rng, kind)
            # the generators include NULLs, so NULL leading keys
            # take the ±∞ bucket in both directions
            cols.append((f"c{ci}", dt, gen, rng.random() < 0.5))
        n = 300
        rows = [
            tuple([i] + [gen() for (_, _, gen, _) in cols]) for i in range(n)
        ]
        schema = "id long, " + ", ".join(f"{nm} {dt}" for nm, dt, _, _ in cols)
        df = spark.createDataFrame(rows, schema)
        order = [(nm, asc) for nm, _, _, asc in cols] + [("id", True)]
        worder = [
            (F.col(nm).asc() if asc else F.col(nm).desc()) for nm, asc in order
        ]
        expect = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(*worder)).alias("rn")
            ).collect()
        }
        buckets = rng.choice([4, 7, rank._TWO_LEVEL_MIN * 2])
        gr = rank.global_rank(df, order, num_buckets=buckets)
        got = {r["id"]: r["rank"] for r in gr.df.collect()}
        bad = {k: (got.get(k), expect[k]) for k in expect if got.get(k) != expect[k]}
        assert not bad, (
            f"seed={seed} scenario={scenario} order={order} "
            f"buckets={buckets} first_bad={sorted(bad.items())[:5]}"
        )


@pytest.mark.parametrize("seed", [613, 701, 809])
def test_multi_global_rank_property_fuzz(spark, monkeypatch, seed):
    """The multi-metric path (shared splits aggregate + GROUPING SETS
    counts + per-metric refinement) under the same randomized net as
    global_rank: 2-3 random specs over random hazardous-type columns,
    each rank column checked against its own plain-Window truth."""
    import random

    rank = _no_skew_floor(monkeypatch)
    kinds = ["double", "long_big", "decimal_wide", "string", "int_small"]
    for scenario in range(2):
        rng = random.Random(seed * 1000 + scenario)
        # build a pool of 4 columns; specs draw their orders from it
        cols = []
        for ci in range(4):
            kind = (
                rng.choice(kinds[:3] + ["int_small"])
                if ci < 2
                else rng.choice(kinds)
            )
            dt, gen = _fuzz_column(rng, kind)
            cols.append((f"c{ci}", dt, gen))
        n = 300
        rows = [tuple([i] + [gen() for (_, _, gen) in cols]) for i in range(n)]
        schema = "id long, " + ", ".join(f"{nm} {dt}" for nm, dt, _ in cols)
        df = spark.createDataFrame(rows, schema)
        n_specs = rng.randint(2, 3)
        specs = []
        for si in range(n_specs):
            lead = f"c{si % 2}"  # NULL-bearing numeric leading keys
            extra = rng.sample(["c2", "c3"], rng.randint(0, 2))
            order = [(lead, rng.random() < 0.5)] + [
                (c, rng.random() < 0.5) for c in extra
            ] + [("id", True)]
            specs.append((f"r{si}", order))
        out, total = rank.multi_global_rank(
            df, specs, num_buckets=rng.choice([4, rank._TWO_LEVEL_MIN * 2])
        )
        assert total == n
        got_rows = {r["id"]: r for r in out.collect()}
        for name, order in specs:
            worder = [
                (F.col(c).asc() if asc else F.col(c).desc()) for c, asc in order
            ]
            expect = {
                r["id"]: r["rn"]
                for r in df.select(
                    "id", F.row_number().over(Window.orderBy(*worder)).alias("rn")
                ).collect()
            }
            bad = {
                k: (got_rows[k][name], expect[k])
                for k in expect
                if got_rows[k][name] != expect[k]
            }
            assert not bad, (
                f"seed={seed} scenario={scenario} spec={name} order={order} "
                f"first_bad={sorted(bad.items())[:5]}"
            )


@pytest.mark.parametrize("seed", [907, 1013])
def test_global_running_agg_property_fuzz(spark, monkeypatch, seed):
    """The running-aggregate path (in-bucket window + literal
    prefix-aggregate of earlier buckets) under the randomized net:
    random order, random agg in {max,min,sum}, exclusive and
    inclusive, vs the plain-Window truth."""
    import random

    rank = _no_skew_floor(monkeypatch)
    for scenario in range(3):
        rng = random.Random(seed * 1000 + scenario)
        _, lead_gen = _fuzz_column(rng, rng.choice(["double", "int_small"]))

        def lead():
            v = lead_gen()
            # int_small yields ints; schema says double
            return None if v is None else float(v)

        _, sgen = _fuzz_column(rng, "string")
        n = 250
        rows = [
            (i, lead(), sgen(), float(rng.randrange(-100, 100)))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, v double, s string, val double")
        agg = rng.choice(["max", "min", "sum"])
        exclusive = rng.random() < 0.5
        asc_v, asc_s = rng.random() < 0.5, rng.random() < 0.5
        order = [("v", asc_v), ("s", asc_s), ("id", True)]
        out = rank.global_running_agg(
            df,
            order,
            "val",
            agg,
            out_col="run",
            exclusive=exclusive,
            num_buckets=rng.choice([4, 16]),
        )
        worder = [
            F.col("v").asc() if asc_v else F.col("v").desc(),
            F.col("s").asc() if asc_s else F.col("s").desc(),
            F.col("id").asc(),
        ]
        hi = -1 if exclusive else 0
        w = Window.orderBy(*worder).rowsBetween(Window.unboundedPreceding, hi)
        fn = {"max": F.max, "min": F.min, "sum": F.sum}[agg]
        expect = {
            r["id"]: r["want"]
            for r in df.select("id", fn("val").over(w).alias("want")).collect()
        }
        got = {r["id"]: r["run"] for r in out.collect()}
        bad = {k: (got.get(k), expect[k]) for k in expect if got.get(k) != expect[k]}
        assert not bad, (
            f"seed={seed} scenario={scenario} agg={agg} excl={exclusive} "
            f"asc=({asc_v},{asc_s}) first_bad={sorted(bad.items())[:5]}"
        )


def test_x65_construct_runs_no_refinement_stage(spark, monkeypatch):
    # x65's quintile keys never cross the skew floor at bench scale, so
    # the smooth-key fast path runs zero refinement stages: capping
    # the stages at 0 must leave its construct-time job count as is.
    # 32 rank buckets (a 32-core session) give x65 tie buckets, so a
    # lowered skew floor would refine them; at 4 buckets it has none.
    import uuid

    from big_data_fknn_spark.operators import rank
    from big_data_fknn_spark.queries import load_all

    fn = load_all()["x65_rfm_segmentation"].fn
    sc = spark.sparkContext

    def construct_jobs():
        group = f"x65-construct-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "x65 construct")
        try:
            df = fn(spark, "/root/testdata/sf0.001")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # executing the result first gives the status store time to
        # record every construct job
        df.write.format("noop").mode("overwrite").save()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        construct_jobs()  # warm-up
        as_is = construct_jobs()
        monkeypatch.setattr(rank, "_MAX_REFINE_STAGES", 0)
        capped = construct_jobs()
    finally:
        spark.conf.set(key, old)
    assert as_is >= 1
    assert capped == as_is


def test_construct_jobs_pinned_per_primitive(spark):
    """Construct-time Spark jobs per primitive on a fixed input with no
    skew: one splits aggregate and one counts aggregate (two jobs each
    under AQE: the shuffle map stage, then the result), shared across
    every order of a ``multi_global_rank``.  A NULL-bearing leading key
    buckets its NULLs at ±∞ and a string leading key ranks by its
    prefix code in the same pass, so both cost the same 4 jobs, the
    first call as much as a warm one."""
    import uuid

    from big_data_fknn_spark.operators.rank import multi_global_rank

    sc = spark.sparkContext
    n = 5000
    df = spark.range(n).select(
        "id",
        ((F.col("id") * 7919) % n).cast("double").alias("a"),
        ((F.col("id") * 104729) % n).cast("double").alias("b"),
        ((F.col("id") * 1299709) % n).cast("long").alias("c"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise((F.col("id") * 7919) % n)
        .cast("double")
        .alias("nv"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise(F.format_string("k%05d", (F.col("id") * 7919) % n))
        .alias("s"),
    )

    def jobs(build):
        group = f"rank-construct-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "rank construct")
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # executing the result first gives the status store time to
        # record every construct job
        out.write.format("noop").mode("overwrite").save()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    order = [("a", True), ("id", True)]
    assert jobs(lambda: global_rank(df, order, num_buckets=4).df) == 4
    assert (
        jobs(
            lambda: global_rank(
                df, order, num_buckets=4, running_sum=("c", "cum")
            ).df
        )
        == 4
    )
    assert (
        jobs(lambda: global_running_agg(df, order, "c", "max", num_buckets=4))
        == 4
    )
    specs = [
        ("ra", order),
        ("rb", [("b", False), ("id", True)]),
        ("rc", [("c", True), ("id", True)]),
    ]
    assert jobs(lambda: multi_global_rank(df, specs, num_buckets=4)[0]) == 4
    for lead in ("nv", "s"):

        def build(lead=lead):
            return global_rank(df, [(lead, True), ("id", True)], num_buckets=4).df

        first = jobs(build)
        assert (first, jobs(build)) == (4, 4), lead
