"""Two-stage FkNN edge cases on hand-built inputs: the stage-1 Keller
memberships against the formula computed in Python, and stage 2's
pass-through of a NULL test label, also over a one-row train set."""

from __future__ import annotations

from collections import Counter

import numpy as np

from big_data_fknn_spark.operators.fknn import fknn_classify, keller_memberships

K = 3

# two class clusters on a line, plus point 8 (class 0) inside the
# class-1 cluster: none of its 3 nearest neighbors shares its class
TRAIN = [
    (0, [0.0, 0.1], 0),
    (1, [1.1, 0.0], 0),
    (2, [2.3, 0.2], 0),
    (3, [3.6, 0.1], 0),
    (4, [10.0, 0.3], 1),
    (5, [11.2, 0.0], 1),
    (6, [12.5, 0.2], 1),
    (7, [13.9, 0.1], 1),
    (8, [11.8, 0.4], 0),
]


def _train(spark):
    return spark.createDataFrame(TRAIN, "vec_id long, emb array<double>, label long")


def keller_reference(rows, k):
    """{(vec_id, cls): u} by the Keller init over leave-one-out kNN,
    neighbors in (distance, id) order."""
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows])
    labels = [r[2] for r in rows]
    out = {}
    for i, (vid, _, own) in enumerate(rows):
        d = np.linalg.norm(X - X[i], axis=1)
        order = [j for j in np.lexsort((ids, d)) if j != i][:k]
        counts = Counter(labels[j] for j in order)
        counts.setdefault(own, 0)
        for cls, n in counts.items():
            out[(vid, cls)] = (0.51 if cls == own else 0.0) + 0.49 * n / k
    return out


def test_memberships_match_keller_formula_with_no_same_class_neighbor(spark):
    memb = {
        (r["vec_id"], r["cls"]): r["u"]
        for r in keller_memberships(_train(spark), k=K).collect()
    }
    want = keller_reference(TRAIN, K)
    assert memb.keys() == want.keys()
    assert all(abs(memb[key] - u) < 1e-12 for key, u in want.items())
    # point 8's neighbors are all class 1, yet its own-class row exists
    assert memb[(8, 0)] == 0.51
    assert abs(memb[(8, 1)] - 0.49) < 1e-12


def test_stage2_passes_null_test_label_through(spark):
    train = _train(spark)
    test = spark.createDataFrame(
        [(100, [0.5, 0.0], 0), (101, [12.0, 0.1], None), (102, [2.9, 0.3], None)],
        "vec_id long, emb array<double>, label long",
    )
    out = {
        r["vec_id"]: r
        for r in fknn_classify(test, train, keller_memberships(train, k=K), k=K).collect()
    }
    assert set(out) == {100, 101, 102}
    assert out[100]["label"] == 0 and out[100]["pred"] == 0
    assert out[101]["label"] is None and out[101]["pred"] == 1
    assert out[102]["label"] is None and out[102]["pred"] == 0

    # a one-row train set: its point has no leave-one-out neighbor, so
    # no membership row; every test point still gets its class at
    # Keller's own-class value 0.51
    one = train.where("vec_id = 0")
    got = sorted(
        tuple(r) for r in fknn_classify(test, one, keller_memberships(one, k=K), k=K).collect()
    )
    assert got == [(100, 0, 0, 0.51), (101, None, 0, 0.51), (102, None, 0, 0.51)]

