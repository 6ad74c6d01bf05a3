"""Partition pruning over the partitioned warehouse — static and
DYNAMIC (DPP), the two scan-elimination mechanisms a 100 TB layout
lives or dies by.

Static: a literal predicate on the partition column must appear in the
scan's PartitionFilters (planning-time directory pruning — zero IO for
excluded partitions).

Dynamic: in the star-join shape (big partitioned fact ⋈ filtered dim
on the partition key) the partition values are only known at RUN time
from the dim side; Spark's DPP injects a `dynamicpruning` subquery
into the fact scan so the filter's partitions are the only ones read.
Without DPP the fact side is a full scan however selective the dim
filter is — the single biggest scan-cost cliff in partitioned
warehouses.

Listing: before any pruning, a read lists the table's partition
directories. Above 32 of them Spark lists in a parallel job, which must
be one task per task slot, not one per directory (a daily fact gains a
directory every day).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.session import DISCOVERY_PARALLELISM, get_spark
from emission_project_spark.sources.warehouse import Warehouse


@pytest.fixture(scope="module")
def part_wh(spark, sf_dir, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("dpp_wh")))
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    wh.append(orders, "orders_by_year", partition_by=["o_year"])
    return wh


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_static_partition_pruning(part_wh):
    fact = part_wh.read("orders_by_year")
    df = fact.filter(F.col("o_year") == 1997).groupBy("o_orderpriority").count()
    plan = _plan(df)
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters")[1][:200]


def test_dynamic_partition_pruning_star_join(spark, part_wh):
    # dim: (year, label), filtered to ONE label at runtime; the fact
    # side must receive a dynamicpruning filter on o_year, not scan all
    years = spark.createDataFrame(
        [(y, "keep" if y == 1997 else "drop") for y in range(1995, 2002)],
        "d_year int, d_label string",
    )
    fact = part_wh.read("orders_by_year")
    df = (
        fact.join(
            years.filter(F.col("d_label") == "keep"),
            fact["o_year"] == F.col("d_year"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result equals the statically-pruned equivalent
    expected = {
        r["o_orderpriority"]: r["n"]
        for r in fact.filter(F.col("o_year") == 1997)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r["o_orderpriority"]: r["n"] for r in df.collect()}
    assert got == expected


def _job_task_counts(spark, group: str, fn):
    """Run ``fn`` with its Spark jobs in ``group``; return its result and
    the task count of every job the group ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    counts = [
        sum(tracker.getStageInfo(sid).numTasks for sid in tracker.getJobInfo(jid).stageIds)
        for jid in tracker.getJobIdsForGroup(group)
    ]
    return result, counts


def test_partition_discovery_is_one_task_per_slot(spark, tmp_path):
    n_dates = 100  # above Spark's 32-path parallel-listing threshold
    day0 = datetime.date(2024, 1, 1)
    rows = spark.range(3 * n_dates).select(
        F.date_format(
            F.date_add(F.lit(day0), (F.col("id") % n_dates).cast("int")), "yyyyMMdd"
        ).cast("int").alias("date_id"),
        F.col("id").cast("double").alias("v"),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(rows, "fact", partition_by=["date_id"])

    fact, counts = _job_task_counts(spark, "listing-width", lambda: wh.read("fact"))
    slots = spark.sparkContext.defaultParallelism
    assert counts and max(counts) <= slots, (counts, slots)

    got = {
        r["date_id"]: (r["n"], r["s"])
        for r in fact.groupBy("date_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    # ids d, d+100, d+200 land on day d
    expected = {
        int((day0 + datetime.timedelta(days=d)).strftime("%Y%m%d")): (3, 3.0 * d + 300)
        for d in range(n_dates)
    }
    assert got == expected

    # a caller's extra_conf still wins over the per-slot default
    try:
        get_spark("tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={DISCOVERY_PARALLELISM: "7"})
        assert spark.conf.get(DISCOVERY_PARALLELISM) == "7"
        _, counts = _job_task_counts(spark, "listing-width-override",
                                     lambda: wh.read("fact"))
        assert max(counts) == 7, counts
    finally:
        get_spark("tests", master="local[4]", shuffle_partitions=4)
    assert spark.conf.get(DISCOVERY_PARALLELISM) == str(slots)
