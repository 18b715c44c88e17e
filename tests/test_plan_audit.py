"""The plan walk behind ``scripts/plan_audit.py``'s exchange counts."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from plan_audit import plan_nodes  # noqa: E402


def test_counts_only_the_shuffles_a_query_plans_itself(spark):
    """A groupBy over a persisted frame that holds its own groupBy and
    broadcast join plans one shuffle: the cached subplan's shuffle and
    broadcast exchange belong to the frame, not to the query scanning
    it (a substring count of "Exchange" over the plan string reads 3)."""
    facts = spark.range(200).withColumn("k", F.col("id") % 10)
    dims = spark.range(10).withColumnRenamed("id", "k")
    cached = facts.join(F.broadcast(dims), "k").groupBy("k").count().persist()
    try:
        query = cached.groupBy("count").agg(F.sum("k").alias("s"))
        nodes = plan_nodes(query)
        assert nodes.count(("ShuffleExchangeExec", True)) == 1
        assert ("InMemoryTableScanExec", True) in nodes
        # The cached subplan is walked (its shapes are audited) but its
        # nodes are not the query's own.
        assert ("BroadcastExchangeExec", False) in nodes
        assert nodes.count(("ShuffleExchangeExec", False)) == 1
    finally:
        cached.unpersist()
