"""In-session concurrency smoke: the full registry must return the
same answers when many queries run AGAINST ONE SparkSession from
concurrent threads as when they run serially.

A real engine serves concurrent queries in one long-lived session
(notebooks, a query service, the driver's own thread pools), and a
SparkSession is documented thread-safe — but a QUERY BUILDER is only
concurrent-safe if it avoids session-global mutable state.  The
round-9 verdict named the known hazard: fixed-name temp views (a
second caller's ``createOrReplaceTempView`` between the first
caller's register and sql swaps the table under it — closed this
round by uuid views dropped after the eager ``spark.sql`` analysis,
and by a registration lock for x12, whose shared-SQL-text contract
requires the canonical names).

Method: run every key serially (canonical result captured per key),
then submit all keys to a thread pool (default 8 workers) in a
seed-shuffled order against the SAME session, and compare
canonicalized results cell-for-cell.  Rows-only keys (no DuckDB
oracle) run in both passes too — concurrently they must produce the
same ROW COUNT and not crash.

    python tools/concurrency_smoke.py              # 8 workers, sf0.001
    python tools/concurrency_smoke.py --workers 16
    python tools/concurrency_smoke.py /root/testdata/sf0.01

Exit code 0 = every key's concurrent result equals its serial result
(or its documented contract raise matches in both passes).
"""

from __future__ import annotations

import json
import os
import random
import sys
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (REPO, os.path.join(REPO, "tests"), os.path.join(REPO, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)


def run_one(reg, key, spark, sf_dir):
    """(status, payload) for one key: canonical cells for oracled
    keys, the row count for rows-only keys, the error text on raise."""
    from oracle import df_canon

    try:
        df = reg[key].fn(spark, sf_dir)
        if reg[key].oracle is None:
            return ("rows", df.count())
        return ("ok", df_canon(df.toPandas()))
    except Exception as ex:  # noqa: BLE001 — report, keep sweeping
        return ("err", str(ex))


def smoke(spark, sf_dir: str, workers: int, seed: int = 9) -> list[tuple[str, str]]:
    from adversarial_parity import _EXPECTED_CONTRACT
    from big_data_fknn_spark.queries import load_all

    reg = load_all()
    keys = sorted(reg)

    serial = {k: run_one(reg, k, spark, sf_dir) for k in keys}
    print(f"  serial pass done ({len(keys)} keys)", flush=True)

    shuffled = list(keys)
    random.Random(seed).shuffle(shuffled)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = {k: pool.submit(run_one, reg, k, spark, sf_dir) for k in shuffled}
        concurrent = {k: f.result() for k, f in futs.items()}
    print(f"  concurrent pass done ({workers} workers)", flush=True)

    bad: list[tuple[str, str]] = []
    for k in keys:
        s, c = serial[k], concurrent[k]
        expected = _EXPECTED_CONTRACT.get(k, "\0")
        if s[0] == "err" and c[0] == "err" and expected in s[1] and expected in c[1]:
            continue  # documented contract raise in both passes
        if s == c:
            continue
        detail = (
            f"serial={s[0]}:{str(s[1])[:80]} concurrent={c[0]}:{str(c[1])[:80]}"
            if (s[0] != "ok" or c[0] != "ok")
            else "HASH_SPLIT serial-vs-concurrent"
        )
        bad.append((k, detail))
    return bad


def main() -> None:
    from big_data_fknn_spark.session import get_spark

    args = sys.argv[1:]
    workers = 8
    if "--workers" in args:
        i = args.index("--workers")
        workers = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark(app_name="concurrency_smoke")
    try:
        bad = smoke(spark, sf_dir, workers)
    finally:
        for q in spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 — best-effort teardown
                pass
    print(
        f"concurrency ({workers} workers): "
        f"{'CLEAN' if not bad else json.dumps(bad)}",
        flush=True,
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
