"""Session-level settings that only show across repeated queries.

Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
is a static conf, so it is checked in a fresh session: a child
process builds one through ``get_spark`` and runs perfbench's
``registry_mix`` keys twice, counting Janino compiles per key with
``CodegenMetrics``.  At Spark's default of 100 entries the 183 classes
of one pass evict each other and the second pass compiles all of them
again.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
KEYS = (
    "j1_knn_crisp",
    "j3_fknn_stage2",
    "j9_sim_search",
    "x65_rfm_segmentation",
    "j31_dedup_survivors",
)


def test_repeated_pass_compiles_no_new_classes():
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from big_data_fknn_spark.cache import release_query_caches
        from big_data_fknn_spark.queries import load_all
        from big_data_fknn_spark.session import get_spark

        spark = get_spark(app_name="codegen_cache_probe")
        compiles = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        reg = load_all()
        passes = []
        for _ in range(2):
            per_key = {{}}
            for key in {KEYS!r}:
                c0 = compiles.getCount()
                reg[key].fn(spark, {SF_DIR!r}).toPandas()
                per_key[key] = compiles.getCount() - c0
            release_query_caches()
            passes.append(per_key)
        print("PASSES", json.dumps(passes))
        spark.stop()
        """
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("PASSES ")]
    assert lines, out.stderr[-3000:]
    first, second = json.loads(lines[-1][len("PASSES "):])
    # the first pass really generates the working set (183 measured) ...
    assert sum(first.values()) >= 150, first
    # ... and the second finds every class in the cache (0 measured)
    assert sum(second.values()) <= 5, (first, second)
