"""Bucketed and partitioned layouts: the osmid side-table story at 100 TB.

The x75 bucketed fact-fact join must not shuffle below the join, the
x74/x76 scans must prune partitions at the scan node, and
``ensure_fresh_bucketed`` must guard staged tables against a stale
cached file listing.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def bucket_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo "
              "LOCATION '/tmp/opr_spark_bucketdemo'")
    yield "bucketdemo"
    spark.sql("DROP DATABASE IF EXISTS bucketdemo CASCADE")


def test_x75_fact_fact_join_has_no_exchange_below_agg(spark, sf_dir):
    """The x75 plan's SortMergeJoin must sit directly on the bucketed
    scans: the ONLY Exchange allowed is the one above the join feeding
    the per-status rollup, and neither side may re-sort (bucket files
    are written sorted by the key)."""
    from openplacereviews_db_spark.plans.sync_plans import x75_smb_join

    df = x75_smb_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]
    join_part = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_part, (
        "bucketed fact-fact join still shuffles below the join:\n"
        + join_part[:2000])
    assert plan[:plan.index("SortMergeJoin")].count("Exchange") <= 1


def test_x74_partition_pruning_reads_one_day(spark, sf_dir):
    """The x74 scan must prune at metadata time: the partition filter
    appears in the plan, and inputFiles collapse to the single pruned
    day's directory."""
    import json
    import os

    from pyspark.sql import functions as F

    from openplacereviews_db_spark.plans.sync_plans import (
        x74_partition_prune)
    from openplacereviews_db_spark.sources import staging

    df = x74_partition_prune(spark, sf_dir)
    root = staging.stage_path(sf_dir, "partgrid", ["events"])
    with open(os.path.join(root, "meta.json")) as fh:
        min_day = json.load(fh)["min_day"]

    # the partition filter (with the pinned literal) must reach the
    # scan node — that is the metadata-time prune
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    pf = scan[scan.index("PartitionFilters"):].split("]", 1)[0]
    assert "day_b" in pf and str(min_day) in pf, pf

    # the layout really is multi-day (so the prune is non-trivial) and
    # the filtered scan returns exactly the pinned day's rows
    data_dir = os.path.join(root, "data")
    day_dirs = [d for d in os.listdir(data_dir)
                if d.startswith("day_b=")]
    assert len(day_dirs) > 1 and f"day_b={min_day}" in day_dirs
    one_day = (spark.read.parquet(
        os.path.join(data_dir, f"day_b={min_day}")).count())
    pruned = (spark.read.parquet(data_dir)
              .where(F.col("day_b") == min_day))
    assert pruned.count() == one_day > 0


def test_x76_dynamic_pruning_expression_reaches_scan(spark, sf_dir):
    """The x76 fact scan must carry a dynamicpruningexpression — the
    partitions to read are decided at runtime from the dim side, not
    from a literal in the query text."""
    from openplacereviews_db_spark.plans.sync_plans import (
        x76_dynamic_prune)

    df = x76_dynamic_prune(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    pf = scan[scan.index("PartitionFilters"):].split("]", 1)[0]
    assert "dynamicpruning" in pf.lower(), pf


def test_ensure_fresh_bucketed_guards_staleness(spark, bucket_db):
    """ensure_fresh_bucketed: True (with a listing refresh) only when
    every table is registered AND its staged location is a completed
    write; drop_bucketed removes both the registration and the files.
    Guards the r14 inherited flake — a cached file listing serving a
    deleted file set after an out-of-band rebuild of the same /tmp
    location."""
    import os

    from openplacereviews_db_spark.sources.bucketed import (
        drop_bucketed, ensure_fresh_bucketed, write_bucketed)

    loc = "/tmp/opr_spark_bucketdemo"
    t = f"{bucket_db}.fresh_guard"
    drop_bucketed(spark, loc, t)
    assert not ensure_fresh_bucketed(spark, loc, t)  # unregistered

    write_bucketed(spark.range(0, 100).withColumnRenamed("id", "k"),
                   t, "k", buckets=4)
    assert ensure_fresh_bucketed(spark, loc, t)

    # a torn/incomplete staged write (no _SUCCESS) must force a rebuild
    os.remove(os.path.join(loc, "fresh_guard", "_SUCCESS"))
    assert not ensure_fresh_bucketed(spark, loc, t)

    drop_bucketed(spark, loc, t)
    assert not spark.catalog.tableExists(t)
    assert not os.path.isdir(os.path.join(loc, "fresh_guard"))
