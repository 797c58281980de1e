"""connected_components: the sf0.01 corpus only plants size-2
near-dup clusters, so the oracle-parity check never exercises the
multi-hop (transitive) path.  These synthetic graphs do."""

from __future__ import annotations

from big_data_fknn_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src: bigint, dst: bigint")
    rows = connected_components(df, **kw).collect()
    return {r["node"]: r["component"] for r in rows}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter 4, needs real iteration to converge
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_two_components_and_direction_irrelevant(spark):
    # edges given in "wrong" direction: symmetrization must fix it
    got = _cc(spark, [(9, 8), (8, 7), (2, 1), (30, 31)])
    assert got == {7: 7, 8: 7, 9: 7, 1: 1, 2: 1, 30: 30, 31: 30}


def test_star_and_cycle(spark):
    got = _cc(spark, [(10, 11), (10, 12), (10, 13), (20, 21), (21, 22), (22, 20)])
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 22: 20}


def test_random_graphs_match_union_find(spark):
    # Property check: on deterministic pseudo-random graphs, the
    # distributed min-label propagation must agree with a sequential
    # union-find on every node.  Seeds cover sparse, dense, and
    # many-component regimes; failures would print the seed.
    import random

    def union_find(n_nodes, edges):
        parent = {v: v for e in edges for v in e}
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-label per component
        comp = {}
        for v in parent:
            r = find(v)
            comp.setdefault(r, []).append(v)
        out = {}
        for members in comp.values():
            m = min(members)
            for v in members:
                out[v] = m
        return out

    for seed, n, m in [(1, 12, 8), (2, 30, 45), (3, 50, 20), (4, 8, 28), (5, 80, 120)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        # self-loops and duplicate/bidirectional edges stay IN: the
        # operator must tolerate them (a self-loop node with no other
        # edge is its own component)
        got = _cc(spark, edges)
        want = union_find(n, [(a, b) for a, b in edges if a != b])
        for a, b in edges:
            if a == b and a not in want:
                want[a] = a
        assert got == want, f"seed={seed}"


def test_rounds_counter_and_nonconvergence_raise(spark):
    # a 6-chain converges in single-digit rounds: within max_iter=7,
    # i.e. at most 8 rounds counting the fused init round; with
    # max_iter too small for the diameter the call must raise, never
    # return non-fixpoint labels
    import pytest

    chain = [(i, i + 1) for i in range(1, 7)]
    got = _cc(spark, chain, max_iter=7)
    assert got == {i: 1 for i in range(1, 8)}

    df = spark.createDataFrame(chain, "src: bigint, dst: bigint")
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_deep_chain_converges_via_pointer_jumping(spark):
    # diameter 299: plain min-label propagation needs ~299 rounds, far
    # past max_iter=16 — the adaptive pointer-jumping (label <- label's
    # label from round 4) must converge in O(log d) rounds instead,
    # at most 16 counting the fused init round (max_iter=15)
    chain = [(i, i + 1) for i in range(1, 300)]
    got = _cc(spark, chain, max_iter=15)
    assert got == {i: 1 for i in range(1, 301)}


def test_non_integral_and_null_node_ids_rejected(spark):
    """ADVICE r4 (low): string ids sum to NULL under the fingerprint's
    decimal cast — the old convergence check compared None == None and
    declared convergence after one round with wrong labels; fractional
    doubles can alias distinct nodes under the round-to-integer cast.
    Both are rejected up front now, and NULL endpoints raise from the
    fingerprint scan instead of silently becoming a 'NULL node'."""
    import pytest

    from big_data_fknn_spark.operators import graph

    s = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src: string, dst: string"
    )
    with pytest.raises(TypeError, match="integral node ids"):
        graph.connected_components(s)
    d = spark.createDataFrame([(1.25, 2.5)], "src: double, dst: double")
    with pytest.raises(TypeError, match="integral node ids"):
        graph.connected_components(d)
    # a NULL endpoint on either side (mixed widths included) is a NULL
    # node in one direction of the symmetrized edges
    for edges, schema in (
        ([(1, 2), (3, None)], "src: bigint, dst: bigint"),
        ([(None, 4), (4, 5)], "src: int, dst: bigint"),
    ):
        nl = spark.createDataFrame(edges, schema)
        with pytest.raises(ValueError, match="non-null"):
            graph.connected_components(nl)


def test_mixed_width_endpoints_widen_to_long(spark):
    """One scan symmetrizes (src, dst) and (dst, src) into one array of
    structs: an int and a long endpoint column must widen to a common
    long, as a union of the two directions would, in either order."""
    for schema in ("src: int, dst: bigint", "src: bigint, dst: int"):
        df = spark.createDataFrame([(1, 2), (2, 3), (7, 6)], schema)
        out = connected_components(df)
        assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 6: 6, 7: 6}, schema


def test_self_loop_and_repeated_edges_label_each_node_once(spark):
    """A self-loop, a duplicate edge and an edge repeated in reverse all
    symmetrize into repeated messages; every node still gets exactly one
    row."""
    df = spark.createDataFrame(
        [(5, 5), (1, 2), (1, 2), (2, 1), (3, 2), (9, 9), (9, 8)],
        "src: bigint, dst: bigint",
    )
    rows = connected_components(df).collect()
    assert len(rows) == len({r["node"] for r in rows})
    got = {r["node"]: r["component"] for r in rows}
    assert got == {5: 5, 1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_empty_edge_set_returns_no_labels(spark):
    """An empty edge set never materializes round 1's init-fingerprint
    observation; the operator must converge on the empty labeling
    instead of reading it."""
    assert _cc(spark, []) == {}


def test_j8f_with_no_pair_over_tau_is_empty(spark, monkeypatch):
    """j8f under a threshold no pair passes (Jaccard <= 1 < tau): the
    empty intermediate edge set reaches connected_components."""
    from big_data_fknn_spark.cache import release_query_caches
    from big_data_fknn_spark.queries import llm
    from tests.test_llm import SF_DIR

    monkeypatch.setattr(llm, "_TAU", 1.01)
    try:
        df = llm.j8f_dedup_clusters(spark, SF_DIR)
        assert df.columns == ["doc_id", "cluster_id", "csize"]
        assert df.collect() == []
    finally:
        release_query_caches()
