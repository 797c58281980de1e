"""Legacy nanos-as-long events layout: value parity with the NTZ
layout, UNDER EVERY SESSION ZONE (round-10 advice item).

The events generator has shipped `ts` as both TIMESTAMP(NANOS) and
TIMESTAMP(MICROS) parquet across regenerations (tables.events_t).
The round-10 non-UTC drives proved tz-invariance for the MICROS/NTZ
layout only — the driven testdata ships it — while the legacy branch
still built `ts` via F.timestamp_micros (an INSTANT, whose NTZ
reading is the SESSION-zone wall clock), so wall_micros consumers
(i8/i19 absolute epochs) and wall-aligned windows (i1) would have
drifted on a non-UTC deployment reading nanos parquet.  Both legacy
branches (tables.events_t batch, streaming.replay.events_stream) now
route through tables.wall_timestamp; these tests pin the guarantee:

1. legacy layout == NTZ layout, row for row, under the suite's UTC
   session (both the batch reader and the streaming replay path);
2. the once-hazardous keys hash identically on the LEGACY layout
   under America/New_York and Asia/Kolkata hostile sessions
   (subprocesses — a session's zone is fixed at creation).

Cost: ~2 extra small Spark sessions over sf0.001 (~1.5 min).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from big_data_fknn_spark.queries import load_all
from tests.oracle import raw_hash

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

DEFS = load_all()

# i1: wall-aligned hourly windows (batch events_t legacy branch);
# i8: foreachBatch upsert — streaming replay legacy branch PLUS the
#     wall_micros absolute-epoch export that drifted in round 10.
KEYS = ("i1_tumbling", "i8_foreachbatch_upsert")

ZONES = ("America/New_York", "Asia/Kolkata")


@pytest.fixture(scope="module")
def legacy_dir(tmp_path_factory):
    """sf0.001 events re-encoded as parquet TIMESTAMP(NANOS) — the
    layout Spark 4 only reads via spark.sql.legacy.parquet.nanosAsLong
    (as a long), exactly how the original generator shipped it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("legacy_sf")
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    t = t.set_column(
        t.schema.get_field_index("ts"),
        "ts",
        t.column("ts").cast(pa.timestamp("ns")),
    )
    pq.write_table(t, str(d / "events.parquet"), store_schema=False)
    return str(d)


@pytest.mark.parametrize("key", KEYS)
def test_legacy_layout_matches_ntz_layout_under_utc(spark, legacy_dir, key):
    got = raw_hash(DEFS[key].fn(spark, legacy_dir).toPandas())
    want = raw_hash(DEFS[key].fn(spark, SF_DIR).toPandas())
    assert got == want


_SUBPROC = r"""
import os, sys
tz, sf, keys, repo = sys.argv[1:5]
os.environ["TZ"] = tz
import time; time.tzset()
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
b = (SparkSession.builder.master("local[4]")
     .config("spark.sql.shuffle.partitions", "4")
     .config("spark.ui.enabled", "false")
     .config("spark.sql.ansi.enabled", "true")
     .config("spark.sql.execution.arrow.pyspark.enabled", "true")
     .config("spark.sql.session.timeZone", tz)
     .config("spark.driver.extraJavaOptions", "-Duser.timezone=" + tz))
spark = b.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from big_data_fknn_spark.queries import load_all
from tests.oracle import raw_hash
reg = load_all()
for key in keys.split(","):
    print("HASH", key, *raw_hash(reg[key].fn(spark, sf).toPandas()), flush=True)
spark.stop()
"""


@pytest.mark.parametrize("tz", ZONES)
def test_legacy_layout_invariant_under_non_utc_session(spark, legacy_dir, tz, tmp_path):
    # ground truth: the suite's UTC session over the SAME legacy dir
    want = {k: raw_hash(DEFS[k].fn(spark, legacy_dir).toPandas()) for k in KEYS}

    script = tmp_path / "probe.py"
    script.write_text(_SUBPROC)
    proc = subprocess.run(
        [sys.executable, str(script), tz, legacy_dir, ",".join(KEYS), REPO],
        capture_output=True,
        text=True,
        timeout=560,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = {}
    for line in proc.stdout.splitlines():
        if line.startswith("HASH "):
            _, key, digest, n = line.split()
            got[key] = (digest, int(n))
    assert got == want, f"{tz} legacy-layout drift: {got} != {want}"
