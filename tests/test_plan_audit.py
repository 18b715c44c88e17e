"""The plan walk behind ``scripts/plan_audit.py``'s exchange and
Python-node counts."""

from __future__ import annotations

import os
import sys

import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from plan_audit import plan_nodes, python_nodes  # noqa: E402


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
        assert nodes.count(("ShuffleExchangeExec", "own")) == 1
        assert ("InMemoryTableScanExec", "own") in nodes
        # The cached subplan is walked (its shapes are audited) but its
        # nodes are not the query's own.
        assert ("BroadcastExchangeExec", "cached") in nodes
        assert nodes.count(("ShuffleExchangeExec", "cached")) == 1
    finally:
        cached.unpersist()


def test_reports_the_shuffles_of_a_shared_frame_its_consumer_scans(spark):
    """A consumer of a session-shared frame (``catalog._shared_query``)
    plans no shuffle of its own; the shared frame's aggregation shuffle
    sits under the in-memory scan and is reported as cached, so a
    shuffle added to the shared frame shows in every consumer."""
    from sressentials_spark.artifacts import release_persisted
    from sressentials_spark.catalog import _shared_query

    release_persisted()
    try:
        shared = _shared_query(
            spark,
            "plan-audit",
            "shared_probe",
            lambda: spark.range(200).groupBy((F.col("id") % 7).alias("k")).count(),
        )
        nodes = plan_nodes(shared.filter(F.col("count") > 20).select("k"))
        assert nodes.count(("ShuffleExchangeExec", "own")) == 0
        assert nodes.count(("ShuffleExchangeExec", "cached")) >= 1
    finally:
        release_persisted()


def test_reports_the_python_evaluating_nodes_a_query_plans_itself(spark):
    """Each Python-evaluating node of the query's own plan is reported
    once by class; a Python UDF inside a cached frame's subplan belongs
    to the frame, not to the query scanning it."""
    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    @F.udf("long")
    def twice(x):
        return 2 * x

    def keep(batches):
        yield from batches

    cached = spark.range(20).select(twice("id").alias("id")).persist()
    try:
        query = (
            cached.select(plus_one("id").alias("id"), twice("id").alias("t"))
            .mapInPandas(keep, "id long, t long")
            .groupBy("t")
            .applyInPandas(lambda pdf: pdf, "id long, t long")
        )
        assert python_nodes(plan_nodes(query)) == {
            "ArrowEvalPython": 1,
            "BatchEvalPython": 1,
            "FlatMapGroupsInPandas": 1,
            "MapInPandas": 1,
        }
        assert python_nodes(plan_nodes(spark.range(5))) == {}
    finally:
        cached.unpersist()
