"""tools/registry_sweep.py counts plan nodes by whole operator name."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "registry_sweep",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "registry_sweep.py"))
_rs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_rs)

PLAN = """\
AdaptiveSparkPlan isFinalPlan=false
+- ObjectHashAggregate(keys=[k#1], functions=[collect_list(v#2, 0, 0)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=9]
      +- ObjectHashAggregate(keys=[k#1], functions=[partial_collect_list(v#2, 0, 0)])
         +- SortMergeJoin [k#1], [k#3], Inner
            :- Sort [k#1 ASC NULLS FIRST], false, 0
            :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=5]
            :     +- *(1) HashAggregate(keys=[k#1], functions=[])
            :        +- BroadcastHashJoin [k#1], [k#4], Inner, BuildRight, false
            :           :- *(1) Project [k#1, v#2]
            :           :  +- FileScan parquet [k#1,v#2] Batched: true
            :           +- BroadcastExchange HashedRelationBroadcastMode(List(k#4)), [plan_id=3]
            :              +- LocalTableScan [k#4]
            +- *(2) Sort [k#3 ASC NULLS FIRST], false, 0
               +- ReusedExchange [k#3], Exchange hashpartitioning(k#1, 4)
"""


def test_node_counts_whole_names():
    assert _rs.node_counts(PLAN) == {
        "Exchange": 2, "BroadcastHashJoin": 1, "SortMergeJoin": 1,
        "Sort": 2, "HashAggregate": 1, "ObjectHashAggregate": 2}
