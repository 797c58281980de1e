"""Executor-LOSS determinism soak: SIGKILL a live executor JVM
mid-query and require the completed result to hash-identical the
fault-free run.

retry_soak exercises task-level failure (an attempt RAISES and the
same executor retries it).  This tool exercises the harsher cluster
reality local[*] structurally cannot show and round 12's
local-cluster drives made reachable: a whole executor PROCESS dies —
its running tasks become ExecutorLostFailure, its shuffle output is
GONE so consumers hit FetchFailed and Spark resubmits the parent
stage, and the standalone Worker relaunches a replacement executor
that re-registers mid-job.  A query whose result depends on which
executor materialized a shuffle block, on partial task side effects,
or on executor-local state silently diverges here and nowhere else.

Mechanism, per key:

1. baseline — run on a `local-cluster[2,4,3072]` session, no faults,
   raw-string hash (driver_sim's canon).
2. loss — re-run the same plan; a watcher thread waits until the
   job is ACTIVE (statusTracker) plus a short in-flight delay, then
   SIGKILLs one `CoarseGrainedExecutorBackend` process.  The query
   must still COMPLETE (maxFailures=4 absorbs the lost attempts) and
   hash-equal the baseline.  The watcher records whether the kill
   landed mid-job; a kill that lands after completion retries the
   key (up to 3 attempts) with a shorter delay so the soak never
   "passes" on a kill that missed.

Run at sf0.1 so every key is multi-second on 2x4 cores and the kill
window is wide.

    python tools/executor_loss_soak.py                 # default keys
    python tools/executor_loss_soak.py --keys d1_hashagg
    python tools/executor_loss_soak.py --json EXECLOSS.json
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tests.oracle import raw_hash  # noqa: E402

SF = "/root/testdata/sf0.1"
MASTER = "local-cluster[2,4,3072]"

# shuffle-heavy, multi-stage shapes across the operator families:
# map-combined agg, sort-merge join, window, banded-LSH dedup
# (multi-stage shuffle DAG — FetchFailed territory), Arrow BLAS
# kernel (Python workers die with their executor), bucketed rank.
DEFAULT_KEYS = [
    "d1_hashagg",
    "c5_sort_merge",
    "e1_topk_window",
    "j8_dedup_near",
    "j1_knn_crisp",
    "x65_rfm_segmentation",
    # streaming under executor death: the availableNow replay's state
    # store must reload from checkpoint deltas on the replacement
    # executor (i13), and the file sink's _spark_metadata commit log
    # must stay exactly-once through lost write tasks (i10)
    "i13_stream_tumbling_live",
    "i10_stream_file_sink",
    # iterative keys with localCheckpoint-truncated lineage: a
    # checkpoint block lives on ONE executor (replication 1), so a
    # kill landing exactly between a round's materialization and its
    # consumption CAN fail the job by design — Spark documents
    # localCheckpoint as best-effort under executor loss, and the
    # 100 TB answer is reliable checkpoint() onto the cluster FS.
    # These probes pin the common case: kills during the construct
    # rounds and the final job recover or recompute cleanly.
    "j31_dedup_survivors",
    "x50_bfs_hops",
    "j8f_dedup_clusters",
]


def _executor_pids() -> list[int]:
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True,
        text=True,
    )
    return [int(x) for x in out.stdout.split()]


def _run_with_kill(spark, fn, delay_s: float, max_kills: int = 5):
    """Run fn's query; kill one executor once a job is active +
    delay.  Multi-job queries (construct-time cache jobs run in
    sub-100 ms bursts) can swallow a single kill between jobs, so the
    watcher keeps killing on successive active jobs — up to
    ``max_kills`` — until one verifiably lands MID-job (active jobs
    still present right after the SIGKILL).  Returns (pdf, info);
    info["kills"] lists every kill, info["mid_job"] is True if any
    landed mid-job."""
    done = threading.Event()
    info = {"pid": None, "mid_job": False, "kill_at_s": None, "kills": []}
    st = spark.sparkContext.statusTracker()
    t_start = time.time()

    def killer():
        while (
            not done.is_set()
            and time.time() - t_start < 120
            and len(info["kills"]) < max_kills
        ):
            if st.getActiveJobsIds():
                time.sleep(delay_s)
                if done.is_set():
                    return
                pids = _executor_pids()
                if not pids:
                    time.sleep(0.05)
                    continue
                pid = pids[0]
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:  # raced a relaunch
                    continue
                at = round(time.time() - t_start, 2)
                time.sleep(0.1)
                mid = bool(st.getActiveJobsIds())
                info["kills"].append({"pid": pid, "at_s": at, "mid_job": mid})
                info["pid"], info["kill_at_s"] = pid, at
                if mid:
                    info["mid_job"] = True
                    return
                # killed between jobs — wait for the executor pool to
                # recover, then try the next job burst
                time.sleep(0.3)
            else:
                time.sleep(0.02)

    th = threading.Thread(target=killer, daemon=True)
    th.start()
    try:
        pdf = fn().toPandas()
    finally:
        done.set()
        th.join(timeout=5)
    return pdf, info


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default=None)
    ap.add_argument("--json", default=None)
    ap.add_argument("--sf-dir", default=SF)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from big_data_fknn_spark.cache import release_query_caches
    from big_data_fknn_spark.queries import load_all

    reg = load_all()
    keys = (
        [k.strip() for k in args.keys.split(",") if k.strip()]
        if args.keys
        else DEFAULT_KEYS
    )
    missing = [k for k in keys if k not in reg]
    assert not missing, f"unknown keys: {missing}"

    spark = (
        SparkSession.builder.master(MASTER)
        .appName("executor_loss_soak")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.task.maxFailures", "4")
        # a lost executor must not fail the app before the worker
        # relaunches it; stage retries absorb the FetchFailed wave
        .config("spark.stage.maxConsecutiveAttempts", "8")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    bad: list[str] = []
    for key in keys:
        release_query_caches()
        spark.catalog.clearCache()
        hb, nb = raw_hash(reg[key].fn(spark, args.sf_dir).toPandas())

        entry = None
        for attempt, delay in enumerate((0.5, 0.15, 0.0)):
            release_query_caches()
            spark.catalog.clearCache()
            pdf, info = _run_with_kill(
                spark, lambda: reg[key].fn(spark, args.sf_dir), delay
            )
            hl, nl = raw_hash(pdf)
            entry = {
                "rows": nb,
                "loss_ok": hl == hb and nl == nb,
                "killed_pid": info["pid"],
                "kill_at_s": info["kill_at_s"],
                "mid_job": info["mid_job"],
                "n_kills": len(info["kills"]),
                "attempt": attempt,
            }
            if not entry["loss_ok"]:
                break  # a value drift is a finding regardless of timing
            if info["pid"] is not None and info["mid_job"]:
                break  # clean mid-job kill achieved
        report[key] = entry
        ok = entry["loss_ok"] and entry["killed_pid"] is not None and entry["mid_job"]
        print(
            f"EXECLOSS {key:24s} rows={nb:6d} "
            f"{'OK' if ok else 'DRIFT' if not entry['loss_ok'] else 'KILL-MISSED'}"
            f" (pid={entry['killed_pid']} at {entry['kill_at_s']}s"
            f" mid_job={entry['mid_job']})",
            flush=True,
        )
        if not ok:
            bad.append(key)
    spark.stop()

    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf": args.sf_dir,
                    "master": MASTER,
                    "keys": report,
                    "bad": bad,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    print(f"executor-loss soak: {'CLEAN' if not bad else json.dumps(bad)}",
          flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
