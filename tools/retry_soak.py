"""Task-retry / speculative-execution determinism soak.

On a real cluster tasks FAIL and RE-RUN (machine loss, OOM-kill,
preemption) and speculative execution launches DUPLICATE attempts of
slow tasks — Spark recomputes partitions at will and keeps whichever
attempt finishes.  Nothing in the sf0.01 gate exercises that: local[n]
defaults to maxFailures=1 (first task failure kills the job) and
speculation off.  A query whose result depends on which attempt ran —
a Python kernel with module-global state, an order-sensitive
toLocalIterator chunk boundary, a non-deterministic expression cached
per-attempt — passes every single-attempt sweep and silently diverges
on the first busy cluster.  This tool closes that axis (round-9
verdict item 1).

Mechanism: run each selected key three ways and hash-compare rows
(raw ``str(v)`` strings, driver_sim's canon):

1. ``base``  — wrapped, no faults (master ``local[8,4]``).
2. ``retry`` — same session, fault injection ON: every scan-side and
   result-side task RAISES on its first attempt
   (``TaskContext.attemptNumber() == 0``); odd partitions fail
   *after* yielding their first Arrow batch, so partial-output
   retries are exercised too, not just clean pre-read failures.
3. ``spec``  — separate session with ``spark.speculation=true``
   (multiplier 1.0, quantile 0.25, 50 ms checks) and an injected
   2 s sleep in every 7th partition, forcing duplicate in-flight
   attempts whose results race.

All three must hash identical.  The fault wrapper is an *identity*
``mapInArrow`` passthrough spliced (a) over every ``DataFrameReader``
format load (parquet/csv/json/orc — the single choke point every
table load goes through) and (b) over the final result when its
schema is Arrow-expressible; because the wrapper is present in ALL
three runs, any wrapper-induced render difference cancels and the
only variable is attempt scheduling.  Injection is keyed off a Spark
*local property* (``retry_soak.mode``) so the same wrapped plan can
be re-executed in every mode without rebuilding it — exactly how a
resubmitted stage reuses the plan on a cluster.

    python tools/retry_soak.py                  # default key set, exit 1 on drift
    python tools/retry_soak.py --keys j1_knn_crisp,j3_fknn_stage2
    python tools/retry_soak.py --json RETRYSOAK.json
    python tools/retry_soak.py --sf-dir /tmp/layout_sf001   # retry x layout

``--sf-dir`` (round 12) composes this axis with a mutated physical
layout (tools/layout_soak.py): task first-attempt failures and
hostile-writer layouts CO-OCCUR on real clusters, and a retry that
re-lists a multi-part directory or re-reads a shuffled-column file
must still be attempt-invariant.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tests.oracle import raw_hash  # noqa: E402

SF = "/root/testdata/sf0.01"

# Headline keys + every Python-kernel family (BLAS knn, mapInPandas/
# mapInArrow, pandas UDF/UDAF/UDTF, multimodal decode) + the
# shuffle-heaviest relational shapes + iterative/checkpointed keys.
DEFAULT_KEYS = [
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
    "x65_rfm_segmentation",
    "j12_multimodal",
    "k2_pandas_udf",
    "k3_udaf",
    "k4_udtf",
    "e5_pct",
    "j26_semdedup",
    "x50_bfs_hops",
]

_MODE_KEY = "retry_soak.mode"  # '', 'retry', or 'spec'


def _passthrough(tag: str):
    """Identity mapInArrow fn that injects faults per the local property.

    ``tag`` only aids debugging; behavior is identical at every splice
    point.  Runs on executors: reads the mode from the task's local
    properties (propagated automatically), never from driver state.
    """

    def fn(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        mode = tc.getLocalProperty(_MODE_KEY) or ""
        first_attempt = tc.attemptNumber() == 0
        odd = tc.partitionId() % 2 == 1
        if mode == "retry" and first_attempt and not odd:
            raise RuntimeError(f"retry_soak injected pre-read failure [{tag}]")
        yielded = False
        for b in batches:
            yield b
            if not yielded:
                yielded = True
                if mode == "retry" and first_attempt and odd:
                    raise RuntimeError(
                        f"retry_soak injected mid-stream failure [{tag}]"
                    )
        if mode == "spec" and tc.partitionId() % 7 == 0 and first_attempt:
            time.sleep(2.0)

    return fn


def _wrap(df, tag: str):
    try:
        return df.mapInArrow(_passthrough(tag), df.schema)
    except Exception:
        return None  # schema not Arrow-expressible at this node


def _patch_readers():
    """Splice the passthrough over every DataFrameReader format load."""
    from pyspark.sql.readwriter import DataFrameReader

    for name in ("parquet", "csv", "json", "orc", "text"):
        orig = getattr(DataFrameReader, name)

        def patched(self, *a, _orig=orig, _name=name, **kw):
            df = _orig(self, *a, **kw)
            w = _wrap(df, f"scan:{_name}")
            return w if w is not None else df

        setattr(DataFrameReader, name, patched)


def _session(spec: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master("local[8,4]")  # maxFailures=4
        .appName("retry_soak_spec" if spec else "retry_soak")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if spec:
        b = (
            b.config("spark.speculation", "true")
            .config("spark.speculation.multiplier", "1.0")
            .config("spark.speculation.quantile", "0.25")
            .config("spark.speculation.interval", "50ms")
        )
    return b.getOrCreate()


def _run_key(spark, qs, key: str, mode: str):
    spark.sparkContext.setLocalProperty(_MODE_KEY, mode)
    try:
        df = qs[key](spark, SF)  # SF rebound by --sf-dir in main()
        w = _wrap(df, f"result:{key}")
        return raw_hash((w if w is not None else df).toPandas())
    finally:
        spark.sparkContext.setLocalProperty(_MODE_KEY, "")


def main() -> None:
    global SF
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default=None)
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--sf-dir",
        default=SF,
        help="table directory — point at a mutated layout corpus"
        " (tools/layout_soak.py) to compose retry x layout",
    )
    args = ap.parse_args()
    SF = args.sf_dir
    assert os.path.isdir(SF) or os.path.exists(f"{SF}/region.parquet"), (
        f"--sf-dir not found: {SF}"
    )

    _patch_readers()
    from big_data_fknn_spark.cache import release_query_caches
    from big_data_fknn_spark.queries import load_all

    reg = load_all()
    qs = {k: v.fn for k, v in reg.items()}
    keys = (
        [k.strip() for k in args.keys.split(",") if k.strip()]
        if args.keys
        else DEFAULT_KEYS
    )
    missing = [k for k in keys if k not in qs]
    assert not missing, f"unknown keys: {missing}"

    report: dict[str, dict] = {}
    bad: list[str] = []

    spark = _session(spec=False)
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        release_query_caches()
        hb, nb = _run_key(spark, qs, key, "")
        release_query_caches()
        hr, nr = _run_key(spark, qs, key, "retry")
        ok = hb == hr and nb == nr
        report[key] = {"rows": nb, "retry_ok": ok}
        print(f"RETRYSOAK {key:24s} base={nb:6d} retry {'OK' if ok else 'DRIFT'}",
              flush=True)
        if not ok:
            bad.append(f"{key}:retry")
    spark.stop()

    spark = _session(spec=True)
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        release_query_caches()
        hs, ns = _run_key(spark, qs, key, "spec")
        release_query_caches()
        hb2, nb2 = _run_key(spark, qs, key, "")
        ok = hs == hb2 and ns == nb2
        report[key]["spec_ok"] = ok
        print(f"RETRYSOAK {key:24s} spec {'OK' if ok else 'DRIFT'}", flush=True)
        if not ok:
            bad.append(f"{key}:spec")
    spark.stop()

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf": SF, "keys": report, "bad": bad}, f, indent=1)
    print(f"retry-soak: {'CLEAN' if not bad else json.dumps(bad)}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
