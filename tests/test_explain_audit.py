"""tools/explain_audit.py's plan summary, checked without starting a JVM.

``explain("formatted")`` prints each operator twice: once in the tree and
once in the numbered detail section. The summary counts the tree only,
and in it each node once: the final plan of an executed adaptive plan
(not its initial plan), and a cached plan under its first scan only.
"""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "explain_audit", os.path.join(ROOT, "tools", "explain_audit.py")
)
explain_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_audit)

TWO_JOIN_PLAN = """== Physical Plan ==
* Project (10)
+- * BroadcastHashJoin Inner BuildRight (9)
   :- * BroadcastHashJoin Inner BuildRight (5)
   :  :- * ColumnarToRow (2)
   :  :  +- Scan parquet  (1)
   :  +- BroadcastExchange (4)
   :     +- LocalTableScan (3)
   +- BroadcastExchange (8)
      +- Exchange (7)
         +- LocalTableScan (6)


(1) Scan parquet
Output [2]: [a#1, b#2]
Batched: true
PushedFilters: [IsNotNull(a)]
ReadSchema: struct<a:string,b:string>

(2) ColumnarToRow [codegen id : 2]
Input [2]: [a#1, b#2]

(3) LocalTableScan
Output [1]: [a#3]
Arguments: [a#3]

(4) BroadcastExchange
Input [1]: [a#3]
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=10]

(5) BroadcastHashJoin [codegen id : 2]
Left keys [1]: [a#1]
Right keys [1]: [a#3]
Join type: Inner
Join condition: None

(6) LocalTableScan
Output [1]: [b#4]
Arguments: [b#4]

(7) Exchange
Input [1]: [b#4]
Arguments: hashpartitioning(b#4, 8), ENSURE_REQUIREMENTS, [plan_id=11]

(8) BroadcastExchange
Input [1]: [b#4]
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=12]

(9) BroadcastHashJoin [codegen id : 2]
Left keys [1]: [b#2]
Right keys [1]: [b#4]
Join type: Inner
Join condition: None

(10) Project [codegen id : 2]
Output [2]: [a#1, b#2]
Input [3]: [a#1, b#2, b#4]
"""


def test_plan_tree_stops_at_detail_section():
    tree = explain_audit.plan_tree(TWO_JOIN_PLAN)
    assert tree.rstrip().endswith("+- LocalTableScan (6)")
    assert "(1) Scan parquet" not in tree


def test_summarize_counts_each_operator_once():
    summary = explain_audit.summarize("two joins", TWO_JOIN_PLAN)
    assert (
        "- exchanges: 1, codegen'd operators: 4, "
        "joins: 2 broadcast / 0 shuffled-hash / 0 sort-merge"
    ) in summary
    # scan details still come from the detail section
    assert "- PushedFilters: [IsNotNull(a)]" in summary
    assert "- ReadSchema: struct<a:string,b:string>" in summary


CACHED_TWICE_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (16)
+- BroadcastHashJoin Inner BuildRight (15)
   :- InMemoryTableScan (1)
   :     +- InMemoryRelation (2)
   :           +- AdaptiveSparkPlan (10)
                  +- == Final Plan ==
                     ResultQueryStage (6)
                     +- * HashAggregate (5)
                        +- ShuffleQueryStage (4), Statistics(sizeInBytes=1.0 KiB)
                           +- Exchange (3)
                              +- * Range (7)
                  +- == Initial Plan ==
                     HashAggregate (9)
                     +- Exchange (8)
                        +- Range (17)
   +- BroadcastExchange (14)
      +- InMemoryTableScan (11)
            +- InMemoryRelation (12)
                  +- AdaptiveSparkPlan (10)
                     +- == Final Plan ==
                        ResultQueryStage (6)
                        +- * HashAggregate (5)
                           +- ShuffleQueryStage (4), Statistics(sizeInBytes=1.0 KiB)
                              +- Exchange (3)
                                 +- * Range (7)
                     +- == Initial Plan ==
                        HashAggregate (9)
                        +- Exchange (8)
                           +- Range (17)


(1) InMemoryTableScan
Output [1]: [id#1L]

(2) InMemoryRelation
Arguments: [id#1L], StorageLevel(disk, memory, deserialized, 1 replicas)
"""


def test_executed_cache_counted_once_from_its_final_plan():
    tree = explain_audit.counted_tree(CACHED_TWICE_PLAN)
    assert "Initial Plan" not in tree
    assert tree.count("HashAggregate") == 1
    assert tree.rstrip().endswith("+- InMemoryRelation (12)")
    summary = explain_audit.summarize("cached twice", CACHED_TWICE_PLAN)
    assert (
        "- exchanges: 1, codegen'd operators: 2, "
        "joins: 1 broadcast / 0 shuffled-hash / 0 sort-merge"
    ) in summary
