"""Plan-shape invariants: the Catalyst behaviors SCALING.md relies on,
pinned as assertions on the physical plan rather than prose.

These are the mechanisms that keep the engine 100 TB-shaped: filters
reaching the parquet scan, projection pruning the read schema,
partition pruning skipping files, and dimension tables broadcasting
instead of shuffling the fact side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sressentials_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]
    # ReadSchema carries only the needed columns, not the full table.
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema


def test_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "events_by_type")
    load_table(spark, SF, "events").write.partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = _plan(df)
    part_filters = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_type" in part_filters  # pruning happens at the scan
    # Pruned scan returns exactly the one partition's rows.
    expect = (
        load_table(spark, SF, "events").filter(F.col("event_type") == "click").count()
    )
    assert df.count() == expect


def test_star_join_broadcasts_dimensions(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["join_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan  # dims ride broadcast, fact never shuffles for them


def test_cms_counter_aggregate_is_map_side_combinable(spark):
    # The sketch's whole point: a partial HashAggregate runs BEFORE the
    # exchange, so each map task ships <= d*w counter rows.
    from sressentials_spark.operators.sketch import cms_counters

    plan = _plan(cms_counters(load_table(spark, SF, "events"), "user_id"))
    pre_exchange = plan.split("Exchange")[-1]  # bottom-most section
    assert "partial_count" in pre_exchange or "partial" in pre_exchange


def test_bloom_probe_broadcasts_bit_relation(spark):
    # The set-bit relation (<= m rows) must broadcast; the probe side
    # never shuffles for the membership join.
    from sressentials_spark.operators.sketch import bloom_bits, bloom_probe

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    bits = bloom_bits(docs, "fp")
    plan = _plan(bloom_probe(bits, docs, "fp"))
    assert "BroadcastHashJoin" in plan


def test_cms_probe_broadcasts_counters(spark):
    from sressentials_spark.operators.sketch import cms_probe_counts

    plan = _plan(
        cms_probe_counts(load_table(spark, SF, "events"), "user_id", [0, 1])
    )
    assert "BroadcastHashJoin" in plan


def test_cms_probe_scans_events_once(spark):
    # The probe's estimates and the stream total read one counter
    # subplan: its exchange is reused, so the events are scanned once.
    from sressentials_spark.catalog import QUERIES

    df = QUERIES["sketch_cms_user_counts"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1


def test_retention_plan_has_no_expand(spark):
    # Multiple count_distincts compile to an Expand (input-row
    # multiplication); the retention query's rewrite must avoid it.
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["events_retention_cohorts"](spark, SF))
    assert "Expand" not in plan


def test_q6_predicates_reach_parquet_scan(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["tpch_q6_forecast_revenue"](spark, SF))
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    # The scan-dominant query: date range and quantity bound must be
    # IN the parquet pushdown list, not applied post-scan only.
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    # Only the four needed columns are read.
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema


def test_q3_broadcasts_filtered_customer_and_takeordered(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["tpch_q3_unshipped_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # Top-10 compiles to TakeOrdered, never a global Sort of all groups.
    assert "TakeOrderedAndProject" in plan


def test_q18_reduces_lineitem_before_joining(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["tpch_q18_large_volume_orders"](spark, SF))
    # The HAVING-derived orderkey set rides broadcast into both fact
    # joins (aggregate-then-join, not join-then-aggregate).
    assert plan.count("BroadcastHashJoin") >= 2


def test_gapfill_spine_join_is_broadcast(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["events_hourly_gapfill"](spark, SF))
    # The spine↔hourly join specifically must be a BroadcastHashJoin
    # (built on the hourly side — LeftOuter can't build the preserved
    # spine). Checking for any broadcast node isn't enough: the query
    # always contains a BNLJ from the bounds×types crossJoin, so that
    # would pass even if this join degraded to sort-merge.
    spine_joins = [
        line
        for line in plan.splitlines()
        if "BroadcastHashJoin" in line and "hour_start" in line
    ]
    assert spine_joins, plan
    assert all("SortMergeJoin" not in line for line in plan.splitlines() if "hour_start" in line)


def test_quartiles_have_no_global_window(spark):
    from sressentials_spark.catalog import QUERIES

    df = QUERIES["window_customer_spend_quartiles"](spark, SF)
    plan = _plan(df)
    # Every Window node must be partitioned by the range-bucket id —
    # an unpartitioned ntile/row_number would single-partition the
    # whole customer rollup ("No Partition Defined").
    window_lines = [line for line in plan.splitlines() if "Window [" in line]
    assert window_lines, plan
    assert all("__ssk_pid" in line for line in window_lines), window_lines
    assert "ntile(" not in plan  # replaced by (rank, n) arithmetic
    # (the remaining SinglePartition exchanges carry only the one-row
    # boundary sketch and the <=P (bucket, count) pairs — config-bounded)


def test_profiler_has_no_expand(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["profile_orders_columns"](spark, SF))
    # Per-column aggregates unioned — N count_distincts in ONE agg
    # would compile to an Expand multiplying every row N-fold.
    assert "Expand" not in plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: a selective filter on the build
    side of a shuffle join injects a bloom filter into the probe
    side's scan stage, so most non-matching lineitem rows die before
    the shuffle. At 100 TB the default thresholds (creation side
    <= 10 MB bloom, application side >= 10 GB scan) engage this
    automatically; at test scale the application-side threshold is
    lowered to 0 to pin the mechanism."""
    from pyspark.sql import functions as F

    from sressentials_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sf = "/root/testdata/sf0.001"
        o = load_table(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, sf, "lineitem")
        j = l.join(o, l["l_orderkey"] == o["o_orderkey"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan  # built from the filtered side
        assert "might_contain" in plan.lower() or "BloomFilter" in plan
        # Semantics unchanged by the runtime filter.
        expect = (
            load_table(spark, sf, "lineitem")
            .join(
                load_table(spark, sf, "orders").filter(
                    F.col("o_orderpriority") == "1-URGENT"
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == expect > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_q10_topk_is_takeordered(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["tpch_q10_returned_items"](spark, SF))
    # Top-20 must be per-partition top-k + driver merge, never a
    # global Sort; nation rides a broadcast.
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q15_scalar_max_is_hash_join_not_nested_loop(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["tpch_q15_top_supplier"](spark, SF))
    # "= (SELECT MAX(..))" compiles to a BroadcastHashJoin ON THE
    # VALUE (all ties emit); a nested-loop filter would scan every
    # supplier row against the scalar.
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q17_fact_table_never_shuffles(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["tpch_q17_small_quantity_revenue"](spark, SF))
    # Brand slice and per-part aggregate both broadcast; the only
    # hash Exchanges allowed are the per-part aggregate's own and the
    # final one-row fold — the detail rows must not repartition.
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_q21_exists_lowers_to_semi_and_anti(spark):
    from sressentials_spark.catalog import QUERIES

    plan = _plan(QUERIES["tpch_q21_waiting_supplier"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_cbo_join_strategy_follows_cms_estimate(spark):
    """The sketch estimate must PICK the physical join: under the
    broadcast ceiling the plan is a BroadcastHashJoin; the same join
    with the ceiling forced below the estimate is a SortMergeJoin
    (the merge hint also defeats size-based auto-broadcast, so an
    exploding join can never be broadcast by accident)."""
    from sressentials_spark.operators import sketch as K

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")

    j, est, strat = K.cbo_equi_join(events, "user_id", orders, "o_custkey")
    assert strat == "broadcast" and est <= K.CBO_BROADCAST_MAX
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    j2, est2, strat2 = K.cbo_equi_join(
        events, "user_id", orders, "o_custkey", broadcast_threshold=0
    )
    assert strat2 == "merge" and est2 == est
    plan2 = _plan(j2)
    assert "SortMergeJoin" in plan2 and "BroadcastHashJoin" not in plan2
