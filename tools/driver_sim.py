"""Grading-driver simulation: the STRICTEST local replica of the gate.

Smokes ``entry()`` then runs every ``queries()`` key against its
``oracle_sql()`` in DuckDB and compares an order-insensitive hash of
the RAW ``str(v)`` cell strings — no float canonicalization at all,
unlike tests/oracle.py's 6-decimal rounding.  That extra strictness is
the point: the raw hash caught x69_abc_pareto rendering the two
engines' IDENTICAL exact-decimal class sum as NEIGHBORING doubles
(DuckDB's DECIMAL→DOUBLE divides int_rep/10^scale in float and picks
the wrong neighbor once int_rep > 2^53; Spark's conversion is
correctly rounded) — invisible under the rounded canon, and the
reason decimal renders now go through ::VARCHAR::DOUBLE / exact
DECIMAL.  Keys with no oracle (streaming-live / engine-RNG, SURVEY §2)
get a rows-only check with a >0-row floor, so the replica covers the
gate's whole surface plus counts (round-9 verdict item 8).

Run from the repo root (Python workers resolve the package via cwd):

    python tools/driver_sim.py                       # all keys, ~13 min
    python tools/driver_sim.py --keys d8_weighted_agg,j11_centroid
    python tools/driver_sim.py --json DRIVERSIM_r10.json
    python tools/driver_sim.py --tz America/New_York # non-UTC host probe
    python tools/driver_sim.py --conf spark.sql.adaptive.enabled=false

``--conf K=V`` (repeatable, round 11) simulates a deployment that
flips an execution knob — AQE, whole-stage codegen, Arrow batch
size, parquet input-split size, the vectorized reader.  None of
these may change any result: the run must be hash-for-hash identical
to the default drive.

``--tz`` sets BOTH the process TZ env var and the Spark session
default timeZone to a non-UTC zone before the engine builds its
session — simulating a cluster whose admin never pinned UTC.  The
engine's own session config (session.py pins
spark.sql.session.timeZone=UTC) must override it, so the expected
result is hash-for-hash identical to the UTC run; any drift means a
query leaks the host default into a timestamp render.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle import raw_hash  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# rows-only keys must still produce at least this many rows at sf0.01
# (all four no_oracle batch keys return per-group or per-row output on
# non-empty fixtures; 1 is the conservative floor that still catches
# the "silently read zero files" class the r9 sharding sweep hit).
ROWS_ONLY_MIN = 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default=None, help="comma-separated key filter")
    ap.add_argument("--json", default=None, help="write per-key artifact here")
    ap.add_argument("--tz", default=None, help="simulate this host timezone")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf (repeatable) — simulate a deployment"
        " that flips an execution knob (AQE, codegen, arrow batch"
        " size, input split size, vectorized reader...); results"
        " must be hash-identical to the default run",
    )
    ap.add_argument(
        "--sf-dir",
        default=SF,
        help="table directory (default sf0.01) — point at a mutated"
        " physical layout (tools/layout_soak.py); each <t>.parquet"
        " may be a single file or a directory of part files",
    )
    ap.add_argument(
        "--master",
        default="local[8]",
        help="Spark master (default local[8]).  local-cluster[2,8,4096]"
        " runs REAL separate executor JVMs on this host — torrent"
        " broadcast serialization, socket-level shuffle, per-executor"
        " Python workers — the one execution shape local[*] cannot"
        " show; results must be hash-identical to the local drive",
    )
    args = ap.parse_args()
    for kv in args.conf:
        assert "=" in kv, f"--conf wants K=V, got {kv!r}"

    if args.tz:
        os.environ["TZ"] = args.tz
        import time as _time

        _time.tzset()

    import __spark_entry__ as e
    import duckdb
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(args.master).config(
        "spark.sql.shuffle.partitions", "8"
    ).config("spark.ui.enabled", "false")
    if args.master.startswith("local-cluster"):
        # executor JVMs spawn their own Python workers in their own
        # working dirs — the package must resolve via PYTHONPATH, not
        # cwd (the driver-side sys.path.insert above does not travel)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = b.config("spark.executorEnv.PYTHONPATH", repo)
    if args.tz:
        # hostile default: the engine's get_spark() must win over this
        b = b.config("spark.sql.session.timeZone", args.tz)
        b = b.config("spark.driver.extraJavaOptions", f"-Duser.timezone={args.tz}")
    else:
        b = b.config("spark.sql.session.timeZone", "UTC")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir

    rows = e.entry(spark).collect()
    assert len(rows) > 0, "entry() returned no rows"
    print(f"DRIVERSIM entry ok rows={len(rows)}", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        # recursive glob so the oracle side tolerates the same
        # directory shapes Spark's reader does (multi-part dirs,
        # nested/Hive-partitioned subdirs from a hostile writer)
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet"
            + ("/**/*.parquet')" if os.path.isdir(f"{sf}/{t}.parquet") else "')")
        )

    oracles = e.oracle_sql()
    queries = e.queries()
    keys = list(queries)
    if args.keys:
        want = [k.strip() for k in args.keys.split(",") if k.strip()]
        missing = [k for k in want if k not in queries]
        assert not missing, f"unknown keys: {missing}"
        keys = want

    n_match = n_rowsonly = 0
    fails = []
    report = {}
    for k in keys:
        try:
            pdf = queries[k](spark, sf).toPandas()
        except Exception as ex:
            fails.append((k, f"spark-error {type(ex).__name__}: {ex}"))
            report[k] = {"status": "spark-error", "err": str(ex)[:300]}
            print(f"DRIVERSIM {k} SPARK-ERROR {ex}", flush=True)
            continue
        if k not in oracles:
            if len(pdf) >= ROWS_ONLY_MIN:
                n_rowsonly += 1
                report[k] = {"status": "rows-only", "spark_rows": len(pdf)}
                print(f"DRIVERSIM {k} rows-only rows={len(pdf)}", flush=True)
            else:
                fails.append((k, f"rows-only EMPTY rows={len(pdf)}"))
                report[k] = {"status": "rows-only-empty", "spark_rows": len(pdf)}
                print(f"DRIVERSIM {k} ROWS-ONLY-EMPTY", flush=True)
            continue
        try:
            opdf = con.sql(oracles[k]).df()
        except Exception as ex:
            fails.append((k, f"oracle-error {type(ex).__name__}: {ex}"))
            report[k] = {"status": "oracle-error", "err": str(ex)[:300]}
            print(f"DRIVERSIM {k} ORACLE-ERROR {ex}", flush=True)
            continue
        hs, ns = raw_hash(pdf)
        ho, no = raw_hash(opdf)
        if hs == ho and ns == no:
            n_match += 1
            report[k] = {"status": "hash-match", "rows": ns}
        else:
            fails.append((k, f"hash-mismatch spark_rows={ns} oracle_rows={no}"))
            report[k] = {
                "status": "hash-mismatch",
                "spark_rows": ns,
                "oracle_rows": no,
            }
            print(f"DRIVERSIM {k} MISMATCH spark={ns} oracle={no}", flush=True)
    print(
        f"DRIVERSIM done match={n_match} rows_only={n_rowsonly} fails={len(fails)}",
        flush=True,
    )
    for k, msg in fails:
        print(f"DRIVERSIM FAIL {k}: {msg}", flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf": sf,
                    "tz": args.tz or "UTC",
                    "master": args.master,
                    "conf": args.conf,
                    "n_keys": len(keys),
                    "match": n_match,
                    "rows_only": n_rowsonly,
                    "fails": len(fails),
                    "keys": report,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"DRIVERSIM artifact -> {args.json}", flush=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
