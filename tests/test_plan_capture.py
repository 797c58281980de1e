"""tools/plan_capture.py's ``# node counts:`` header, on a fixed
``explain("formatted")`` render (no Spark session needed)."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "plan_capture.py"
)
_spec = importlib.util.spec_from_file_location("plan_capture", _TOOL)
plan_capture = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_capture)

# A cached relation scanned twice (its subtree printed twice under the
# same ids 2-5), a codegen-starred node, a subquery tree, and a detail
# section that names every node again.
_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (14)
+- HashAggregate (13)
   +- Exchange (12)
      +- HashAggregate (11)
         +- Project (10)
            +- Window (9)
               +- Sort (8)
                  +- Exchange (7)
                     +- BroadcastHashJoin Inner BuildRight (6)
                        :- InMemoryTableScan (1)
                        :     +- InMemoryRelation (2)
                        :           +- AdaptiveSparkPlan (5)
                        :              +- Exchange (4)
                        :                 +- Scan parquet  (3)
                        +- BroadcastExchange (15)
                           +- InMemoryTableScan (16)
                                 +- InMemoryRelation (2)
                                       +- AdaptiveSparkPlan (5)
                                          +- Exchange (4)
                                             +- Scan parquet  (3)


(1) InMemoryTableScan
Output [2]: [doc_id#1L, s#2]
Arguments: [doc_id#1L, s#2]

(3) Scan parquet
Output [1]: [doc_id#1L]
ReadSchema: struct<doc_id:bigint>

(4) Exchange
Input [1]: [doc_id#1L]
Arguments: hashpartitioning(doc_id#1L, 4), REPARTITION_BY_NUM, [plan_id=10]

(7) Exchange
Input [2]: [doc_id#1L, s#2]
Arguments: hashpartitioning(doc_id#1L, 4), ENSURE_REQUIREMENTS, [plan_id=11]

(9) Window
Arguments: [row_number() windowspecdefinition(doc_id#1L, s#2 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#3], [doc_id#1L], [s#2 ASC NULLS FIRST]

(11) HashAggregate
Keys [1]: [doc_id#1L]
Functions [1]: [partial_count(1)]

(12) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]

(13) HashAggregate
Keys: []
Functions [1]: [count(1)]

===== Subqueries =====

Subquery:1 Hosting operator id = 6 Hosting Expression = Subquery scalar-subquery#4, [id=#20]
* HashAggregate (20)
+- Exchange (19)
   +- * HashAggregate (18)
      +- * Range (17)


(18) HashAggregate [codegen id : 1]
Functions [1]: [partial_max(id#5L)]

(20) HashAggregate [codegen id : 2]
Functions [1]: [max(id#5L)]
"""


def test_node_counts_reads_each_tree_node_once():
    counts = plan_capture.node_counts(_PLAN)
    got = {k: v for k, v in counts.items() if v}
    # Exchange: 4, 7, 12 in the main tree and 19 in the subquery — the
    # cached subtree's (4) printed twice counts once; HashAggregate: 11,
    # 13, 18, 20 — not again for their detail entries
    assert got == {
        "Exchange": 4,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
        "HashAggregate": 4,
        "Window": 1,
        "InMemoryTableScan": 2,
    }, got
    assert set(counts) == set(plan_capture._COUNTED)


def test_node_counts_of_an_empty_render():
    assert not any(plan_capture.node_counts("== Physical Plan ==\n").values())
