"""10× synthetic scale soak: the headline + heaviest keys must grow
≤ ~linearly when the data grows 10×.

The 100×-scale story otherwise rests on plan shape plus the
sf0.01→sf0.1 exec profile; this tool adds the decade ABOVE the
benchmark point.  It synthesizes ~sf1 by stacking ten key-shifted
copies of the sf0.1 tables (schema-preserving; foreign keys shift
together so joins stay 1:1 — copy i offsets custkey/partkey/suppkey/
user/doc/vec ids by i·10⁸ and order/event ids by i·10⁹; region and
nation are dimensions with fixed key domains and stay as-is), then
times construct + min-of-2 noop-write exec for each selected key at
sf0.1 AND the synthetic sf1, asserting exec(sf1) ≤ RATIO_MAX ×
exec(sf0.1) with a small floor so sub-100 ms numbers don't produce
nonsense ratios.

This is the round-4 x50/x63 superlinear-blowup detector pointed at
the decade where the bench runs: an iterative query that forgot a
localCheckpoint, a window that regressed to a grid join, or a dedup
block that stopped being DF-capped shows up here as a >12× ratio
long before a cluster bill does.  Duplicated documents/embeddings
are EXACT near-dup corpora (every doc ×10), so the dedup keys also
prove their Σ|bucket|² caps hold on a pathological-duplication
distribution, not just the clean fixture.

    python tools/scale_soak.py                 # build + timing soak
    python tools/scale_soak.py --rebuild       # force rebuild of /tmp sf1
    python tools/scale_soak.py --hash          # VALUE parity at sf1

Timing mode prints one line per (key, sf) and a ratio table; exit 1 on
any key over the ratio ceiling (after the floor) or any error.

``--hash`` (round-9 verdict item 2) closes the other half: timing-only
soaks cannot see a scale-DEPENDENT value divergence — the round-9
subcell bug (count-adaptive quantizer live only past ~2k vectors/label,
present in the oracle but not the Spark side) produced CORRECT results
at every driver scale and wrong cluster assignments at sf1.  Hash mode
runs each oracled key's Spark query AND its DuckDB oracle on the SAME
synthesized sf1 corpus and compares driver_sim's strict raw-string
hash, so the regime where adaptive thresholds flip (quantizers, LSH
band caps, AQE-coalesced partition counts) gets the same parity bar as
the sf0.01 gate.  Keys without an oracle log rows-only counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (REPO, os.path.join(REPO, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

SRC = "/root/testdata/sf0.1"
DST = "/tmp/soak_sf1"
COPIES = 10
RATIO_MAX = 12.0  # ≤ ~12× on 10× data = linear + constant slack
FLOOR_S = 0.15  # both-exec floor: ratios of two ~50 ms timings are noise

# Keys whose WORK or OUTPUT is quadratic by spec on this corpus get a
# measured-scaling ceiling instead of the linear one — the assertion
# then guards kernel regressions without pretending an O(n²) contract
# is linear:
#   - exact (F)kNN scores |Q|·|C| pairs and BOTH sides grow 10× here,
#     so ideal work is 100×; the BLAS kernel's batching held the
#     round-9 measurement to ~13× — that's the number to defend.
#   - the soak corpus duplicates every document/vector exactly ×10,
#     so every dup GROUP is 10× larger and the pair OUTPUT of the
#     near-dup family grows ~100× (s² → (10s)²); emitting 100× rows
#     in ≤12× time is not a plan property.  Round-9 measurements:
#     j8 12.6×, j37 13.4×, j40 6.7×.
# j9b/j26 are NOT here: their output is ~n rows and the count-adaptive
# subcell key (queries/llm.py _CELL_TARGET) makes per-row pair work
# constant, so they must meet the linear ceiling.
# Ceilings sized from isolated steady-state A/Bs plus the observed
# sf1 run-to-run swing on this shared host (j3's sf1 exec measured
# 15/23/51 s across three quiet sessions — the Python-worker/GC noise
# on the heavy keys is ~2×, far above the sf0.1 noise): the guard is
# against the 78×-class blowup the soak exists to catch, not 20%.
KEY_RATIO_MAX = {
    "j1_knn_crisp": 30.0,
    "j3_fknn_stage2": 40.0,
    "j8_dedup_near": 30.0,
    "j37_brp_lsh": 30.0,
    "j40_srp_lsh_neardup": 30.0,
}

# 14 bench headline keys + the heaviest exec-profile keys + the two
# historical superlinear offenders (x50 BFS, x63 gap-fill).
KEYS = [
    "d1_hashagg",
    "c5_sort_merge",
    "e1_topk_window",
    "i1_tumbling",
    "j1_knn_crisp",
    "j3_fknn_stage2",
    "j8_dedup_near",
    "j9_sim_search",
    "j9b_sim_search_ivf",
    "j10_text_tfidf",
    "x32_tpch_q8",
    "j31_dedup_survivors",
    "j46_fpgrowth",
    "x65_rfm_segmentation",
    "j40_srp_lsh_neardup",
    "j37_brp_lsh",
    "j26_semdedup",
    "j34_fuzzy_editdist",
    "d23_percentile_cont",
    "x50_bfs_hops",
    "x63_gap_fill_interp",
    "j44_vocab_build",
]

# (key, tenx_sql) — per-copy rewrites; i is substituted per copy.
_SHIFT = {
    "customer": "SELECT c_custkey + {i} * 100000000::BIGINT AS c_custkey, c_name, c_nationkey,"
    " c_acctbal, c_mktsegment FROM t",
    "supplier": "SELECT s_suppkey + {i} * 100000000::BIGINT AS s_suppkey, s_name, s_nationkey,"
    " s_acctbal FROM t",
    "part": "SELECT p_partkey + {i} * 100000000::BIGINT AS p_partkey, p_name, p_brand, p_type,"
    " p_size, p_retailprice FROM t",
    "orders": "SELECT o_orderkey + {i} * 1000000000::BIGINT AS o_orderkey, o_custkey + {i} * 100000000::BIGINT AS o_custkey,"
    " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM t",
    "lineitem": "SELECT l_orderkey + {i} * 1000000000::BIGINT AS l_orderkey, l_partkey + {i} * 100000000::BIGINT AS l_partkey,"
    " l_suppkey + {i} * 100000000::BIGINT AS l_suppkey, l_linenumber, l_quantity, l_extendedprice,"
    " l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM t",
    "events": "SELECT event_id + {i} * 1000000000::BIGINT AS event_id, ts, user_id + {i} * 100000000::BIGINT AS user_id,"
    " event_type, value, props FROM t",
    "documents": "SELECT doc_id + {i} * 100000000::BIGINT AS doc_id, text, lang, source, n_chars FROM t",
    "embeddings": "SELECT vec_id + {i} * 100000000::BIGINT AS vec_id, embedding, label FROM t",
}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def build(rebuild: bool = False) -> str:
    import duckdb

    if os.path.isdir(DST) and not rebuild:
        return DST
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE OR REPLACE TEMP TABLE t AS "
            f"SELECT * FROM read_parquet('{SRC}/{name}.parquet')"
        )
        shift = _SHIFT.get(name)
        if shift is None:  # fixed-domain dimensions: one copy
            q = "SELECT * FROM t"
        else:
            q = " UNION ALL ".join(
                shift.format(i=i) for i in range(COPIES)
            )
        con.sql(f"COPY ({q}) TO '{DST}/{name}.parquet' (FORMAT PARQUET)")
    return DST


def profile(spark, sf_dir: str, keys: list[str]) -> dict[str, tuple[float, float]]:
    from big_data_fknn_spark.cache import release_query_caches
    from big_data_fknn_spark.queries import load_all

    reg = load_all()
    out: dict[str, tuple[float, float]] = {}
    for key in keys:
        release_query_caches()
        t0 = time.perf_counter()
        df = reg[key].fn(spark, sf_dir)
        construct = time.perf_counter() - t0
        execs = []
        # min-of-3: the first sf1 exec of a Python-kernel key pays
        # worker/Arrow/JIT warmup (measured 88 s vs 23 s steady on j3)
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            execs.append(time.perf_counter() - t0)
        out[key] = (round(construct, 3), round(min(execs), 3))
        print(
            f"  {sf_dir.split('/')[-1]:12s} {key:28s}"
            f" construct {out[key][0]:7.3f}  exec {out[key][1]:7.3f}",
            flush=True,
        )
    return out


# --hash key set: the 14 bench headline keys + the whole dedup / ANN /
# kNN / centroid family (the adaptive-threshold owners).  j46_fpgrowth
# is rows-only by design (MLlib RNG) and logs a count instead.
HASH_EXCLUDED: dict[str, str] = {}
HASH_KEYS = [k for k in KEYS if k not in HASH_EXCLUDED] + [
    "j7_dedup_exact",
    "j11_centroid",
]


def _j31_scalable_oracle() -> str:
    """Hash-mode-only ALTERNATE oracle for j31_dedup_survivors.

    The registered oracle deliberately uses the NAIVE all-pairs
    Jaccard formulation as an implementation-independent check on the
    engine's inverted-index path — O(n²) list-intersects by
    construction, ~312M at the soak's 25k docs (>9 min materialized;
    round 10 therefore EXCLUDED j31 from sf1 value parity).  This
    formulation closes that gap (round-11): collapse identical
    shingle SETS to one representative (Jaccard(a,b)=1 whenever the
    sets are equal and non-empty, so members of a set-group are
    always one cluster; empty-shingle docs never pair in the naive
    oracle — they keep unique group keys), run the inverted-index
    exact-Jaccard join over REPRESENTATIVES only (intersection sizes
    from a per-pair GROUP BY count — no per-pair list ops), close the
    rep graph recursively, then expand reps back to members taking
    the cluster-wide min doc_id as the canonical.  Equals the naive
    oracle hash-for-hash at sf0.01 (verified before wiring) and runs
    the 10x-duplicated soak corpus in ~4 s (naive: >9 min) — the rep
    collapse is what kills the duplication-corpus Σdf² blowup (113M
    candidate rows over all docs → sf0.1-sized over reps).

    Still independent of the Spark implementation: the engine does
    NO rep collapse (full inverted index over all docs + distributed
    checkpointed min-label propagation, operators/graph.py)."""
    from big_data_fknn_spark.queries import llm

    return """
WITH RECURSIVE {doc_ctes},
grp AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(sh) = 0 THEN 'empty:' || doc_id
              ELSE md5(list_sort(sh)::VARCHAR) END AS gkey, sh
  FROM sh3),
rep AS MATERIALIZED (SELECT gkey, min(doc_id) AS rep_id FROM grp GROUP BY gkey),
rsh AS MATERIALIZED (
  SELECT g.doc_id, g.sh FROM grp g JOIN rep r ON g.doc_id = r.rep_id
  WHERE len(g.sh) > 0),
inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM rsh),
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS nb
  FROM inv a JOIN inv b USING (g)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM rsh),
pairs AS MATERIALIZED (
  SELECT doc_i, doc_j
  FROM inter
  JOIN sz si ON si.doc_id = inter.doc_i
  JOIN sz sj ON sj.doc_id = inter.doc_j
  WHERE nb::DOUBLE / (si.n + sj.n - nb) >= {tau}),
edges AS MATERIALIZED (
  SELECT doc_i AS src, doc_j AS dst FROM pairs
  UNION ALL
  SELECT doc_j AS src, doc_i AS dst FROM pairs),
reach AS (
  SELECT DISTINCT src AS node, src AS lab FROM edges
  UNION
  SELECT e.dst AS node, r.lab AS lab FROM edges e JOIN reach r ON r.node = e.src),
comp_rep AS MATERIALIZED (SELECT node AS rep_id, min(lab) AS crep
                          FROM reach GROUP BY node),
doc2rep AS MATERIALIZED (
  SELECT g.doc_id, r.rep_id FROM grp g JOIN rep r USING (gkey)),
clus AS MATERIALIZED (
  SELECT d.doc_id, coalesce(c.crep, d.rep_id) AS crep
  FROM doc2rep d LEFT JOIN comp_rep c USING (rep_id)),
canon AS MATERIALIZED (SELECT crep, min(doc_id) AS cluster_id
                       FROM clus GROUP BY crep)
SELECT cl.doc_id, ca.cluster_id,
       CAST(ca.cluster_id = cl.doc_id AS INT) AS kept
FROM clus cl JOIN canon ca USING (crep)
""".format(doc_ctes=llm._DOC_CTES, tau=llm._TAU)


# keys whose registered oracle cannot run at soak scale get a
# SCALABLE alternate formulation here (hash mode only — the gate
# keeps the naive oracle for independence at driver scale)
HASH_ALT_ORACLE = {"j31_dedup_survivors": _j31_scalable_oracle}


def hash_parity(spark, dst: str, json_path: str | None = None) -> None:
    """Strict raw-hash Spark-vs-DuckDB parity on the synthesized sf1.

    Timings are split per key into spark_s (query build + toPandas)
    and oracle_s (DuckDB run) — round-11 verdict: a lump sum cannot
    attribute the heavy tail, so a Spark-superlinear key could hide
    inside an expensive oracle.  ``--json PATH`` writes the per-key
    artifact."""
    import duckdb

    from big_data_fknn_spark.cache import release_query_caches
    from big_data_fknn_spark.queries import load_all
    from tests.oracle import raw_hash

    reg = load_all()
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{dst}/{name}.parquet')"
        )
    bad: list[str] = []
    report: dict[str, dict] = {}
    for key, why in HASH_EXCLUDED.items():
        print(f"  HASH {key:28s} SKIPPED ({why}; see HASH_EXCLUDED)", flush=True)
        report[key] = {"status": "SKIPPED", "why": why}
    for key in HASH_KEYS:
        release_query_caches()
        t0 = time.time()
        qd = reg[key]
        try:
            pdf = qd.fn(spark, dst).toPandas()
        except Exception as ex:
            print(f"  HASH {key:28s} SPARK-ERROR {type(ex).__name__}: {ex}",
                  flush=True)
            bad.append(key)
            report[key] = {"status": "SPARK-ERROR", "err": str(ex)[:300]}
            continue
        spark_s = round(time.time() - t0, 1)
        if qd.oracle is None:
            print(
                f"  HASH {key:28s} rows-only rows={len(pdf)}"
                f" (spark {spark_s}s)",
                flush=True,
            )
            report[key] = {
                "status": "rows-only", "spark_rows": len(pdf),
                "spark_s": spark_s,
            }
            continue
        oracle = qd.oracle
        alt = key in HASH_ALT_ORACLE
        if alt:
            oracle = HASH_ALT_ORACLE[key]()
            print(f"  HASH {key:28s} using scalable alternate oracle", flush=True)
        t1 = time.time()
        try:
            opdf = con.sql(oracle).df()
        except Exception as ex:
            print(f"  HASH {key:28s} ORACLE-ERROR {type(ex).__name__}: {ex}",
                  flush=True)
            bad.append(key)
            report[key] = {
                "status": "ORACLE-ERROR", "err": str(ex)[:300],
                "spark_s": spark_s,
            }
            continue
        oracle_s = round(time.time() - t1, 1)
        hs, ns = raw_hash(pdf)
        ho, no = raw_hash(opdf)
        ok = hs == ho and ns == no
        print(
            f"  HASH {key:28s} {'MATCH' if ok else 'MISMATCH'}"
            f" spark={ns} oracle={no}"
            f" (spark {spark_s}s, oracle {oracle_s}s)",
            flush=True,
        )
        if not ok:
            bad.append(key)
        report[key] = {
            "status": "MATCH" if ok else "MISMATCH",
            "spark_rows": ns, "oracle_rows": no,
            "spark_s": spark_s, "oracle_s": oracle_s,
        }
        if alt:
            report[key]["oracle"] = "scalable alternate (HASH_ALT_ORACLE)"
    if json_path:
        with open(json_path, "w") as f:
            json.dump(
                {
                    "clean": not bad,
                    "corpus": "synthesized sf1 (10 key-shifted copies of"
                              " sf0.1, /tmp/soak_sf1)",
                    "hash": "driver_sim strict raw-string md5,"
                            " columns+rows sorted",
                    "timing": "spark_s = plan build + toPandas;"
                              " oracle_s = DuckDB run on the same corpus",
                    "keys": report,
                },
                f, indent=1, sort_keys=True,
            )
        print(f"scale-soak artifact -> {json_path}", flush=True)
    print(f"scale-soak hash: {'CLEAN' if not bad else json.dumps(bad)}",
          flush=True)
    sys.exit(1 if bad else 0)


def main() -> None:
    from big_data_fknn_spark.session import get_spark

    rebuild = "--rebuild" in sys.argv
    dst = build(rebuild)
    if "--hash" in sys.argv:
        # optional subset: --keys k1,k2 (resume after an interrupted run)
        global HASH_KEYS
        if "--keys" in sys.argv:
            # validated up front like driver_sim/retry_soak: a trailing
            # --keys or a typo'd key must fail HERE, not IndexError /
            # KeyError twenty minutes into the soak.
            idx = sys.argv.index("--keys") + 1
            assert idx < len(sys.argv) and not sys.argv[idx].startswith(
                "--"
            ), "--keys requires a comma-separated key list"
            want = [k.strip() for k in sys.argv[idx].split(",") if k.strip()]
            from big_data_fknn_spark.queries import load_all as _load_all

            known = _load_all()
            missing = [k for k in want if k not in known]
            assert not missing, f"unknown keys: {missing}"
            HASH_KEYS = want
        json_path = None
        if "--json" in sys.argv:
            idx = sys.argv.index("--json") + 1
            assert idx < len(sys.argv) and not sys.argv[idx].startswith(
                "--"
            ), "--json requires a path"
            json_path = sys.argv[idx]
        spark = get_spark(app_name="scale_soak_hash")
        hash_parity(spark, dst, json_path)
        return
    spark = get_spark(app_name="scale_soak")
    base = profile(spark, SRC, KEYS)
    tenx = profile(spark, dst, KEYS)
    bad: list[tuple[str, float]] = []
    report = {}
    for key in KEYS:
        b, x = base[key][1], tenx[key][1]
        ratio = round(x / b, 2) if b > 0 else float("inf")
        ceiling = KEY_RATIO_MAX.get(key, RATIO_MAX)
        report[key] = {
            "sf0.1_exec": b,
            "sf1_exec": x,
            "ratio": ratio,
            "ceiling": ceiling,
        }
        if max(b, x) >= FLOOR_S and ratio > ceiling:
            bad.append((key, ratio))
    print(json.dumps({"ratio_max": RATIO_MAX, "keys": report}), flush=True)
    print(
        f"scale-soak 10x: {'CLEAN' if not bad else json.dumps(bad)}",
        flush=True,
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
