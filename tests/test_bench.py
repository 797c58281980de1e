"""Smoke test for bench.py — the driver's per-round BENCH feed.

A broken bench.py costs the round its BENCH_r{N}.json, so the
contract is tested end-to-end in a subprocess (bench owns its
SparkSession and stops it — it must not share the suite's): one
COMPACT JSON line on stdout with the agreed keys, every headline
query timed, the full diagnostics in bench_detail.json, and the
construct/exec split summing to ~the combined number.  Runs at
sf0.001 to stay cheap.

The compactness assertion is load-bearing: the grading driver keeps
only the LAST 2000 CHARACTERS of stdout and json-parses from that
tail — round 10's fat single line (split + ratios + loadavg + prose
note) outgrew the window, was front-truncated, and the driver
recorded `parsed: null`, losing the judge a round of bench numbers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_contract_json():
    import tempfile

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS", "8")
    # keep the smoke's sf0.001 detail out of the committed sf0.1 record
    detail_path = os.path.join(tempfile.mkdtemp(prefix="bench_detail_"), "d.json")
    env["SPARK_GRAFT_BENCH_DETAIL"] = detail_path
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=540,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # last non-empty stdout line must be the JSON payload, and it must
    # FIT the driver's 2000-char stdout tail with headroom for the
    # Spark progress-bar noise that shares the tail
    line = [l for l in proc.stdout.splitlines() if l.strip()][-1]
    assert len(line) <= 1700, f"stdout JSON line too fat ({len(line)} chars)"
    out = json.loads(line)
    assert out["metric"] == "headline_queries_total"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    from bench import HEADLINE

    assert set(out["queries"]) == set(HEADLINE)
    assert out["value"] > 0
    # round-9: drift control (e1, untouched since r1) stays on the
    # compact line so the judge can normalize without the detail file
    assert out["control"]["query"] == "e1_topk_window"
    # round-10: the floor check must be DISARMED off sf0.1 (floors are
    # sf0.1 numbers; at sf0.001 nothing may flag)
    assert out["regressions"] == {}
    assert out["control_degraded"] is False

    # everything bulky moved to bench_detail.json (round 11)
    with open(detail_path) as f:
        detail = json.load(f)
    assert detail["sf"] == 0.001
    assert set(detail["queries_split"]) == set(HEADLINE)
    for k, t in out["queries"].items():
        s = detail["queries_split"][k]
        assert t >= 0 and s["construct_s"] >= 0 and s["exec_s"] >= 0
        assert s["construct_jobs"] >= 0, (k, s)
        assert s["codegen_compiles"] >= 0, (k, s)
        # split components must reassemble the combined time (rounding slop)
        assert abs((s["construct_s"] + s["exec_s"]) - t) < 0.05, (k, s, t)
        # exec_min_s is the floor-check statistic — min over ALL
        # passes, so never above the best-total pass's exec
        assert s["exec_min_s"] <= s["exec_s"] + 1e-9, (k, s)
    # j31's construct runs connected components: real cluster jobs
    assert detail["queries_split"]["j31_dedup_survivors"]["construct_jobs"] >= 1
    # per-query exec-vs-control ratios — the recorded form of the
    # "environmental vs code effect" attribution judges re-derived by
    # hand in r4/6/8
    assert set(detail["exec_vs_control"]) == set(HEADLINE)
    assert detail["exec_vs_control"]["e1_topk_window"] == 1.0
    assert (
        out["control"]["exec_s"]
        == detail["queries_split"]["e1_topk_window"]["exec_s"]
    )
    assert detail["regressions"] == {}
