"""DAG-runner gates: topo order, view chaining, partition-overwrite
idempotency, backfill windows, and the incremental self-referencing
cohort table with init bootstrap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taipei_bi_etl_spark.plans.mango_dag import build_mango_pipeline
from taipei_bi_etl_spark.plans.telemetry_pipeline import (
    map_features,
    synthesize_pings,
    unnest_events,
)
from tests.conftest import SF_DIR

DATES = ["2024-01-28", "2024-01-29", "2024-01-30"]


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("mango_wh"))
    pipe = build_mango_pipeline(SF_DIR, wh)
    pipe.run_range(spark, DATES)
    return wh, pipe


def _mapped(spark):
    return map_features(unnest_events(synthesize_pings(spark, SF_DIR)))


def test_usage_daily_matches_batch_rollup(spark, warehouse):
    wh, pipe = warehouse
    got = {
        (str(r.day), r.feature_type, r.feature_name): (r.n_events, r.n_clients)
        for r in spark.read.parquet(f"{wh}/feature_usage_daily").collect()
    }
    # runs on 28..30 with backfill_days=(1,2) materialize 26..30
    written_days = [f"2024-01-{d}" for d in range(26, 31)]
    want_df = (
        _mapped(spark)
        .filter(F.col("submission_date").isin(written_days))
        .groupBy(
            F.col("submission_date").alias("day"), "feature_type", "feature_name"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("client_id").alias("n_clients"),
        )
    )
    want = {
        (str(r.day), r.feature_type, r.feature_name): (r.n_events, r.n_clients)
        for r in want_df.collect()
    }
    assert got == want


def test_cohort_incremental_equals_batch_first_touch(spark, warehouse):
    wh, pipe = warehouse
    got = {
        (r.client_id, r.feature_type, r.feature_name): str(r.cohort_date)
        for r in spark.read.parquet(f"{wh}/feature_cohort_date").collect()
    }
    want = {
        (r.client_id, r.feature_type, r.feature_name): str(r.cohort_date)
        for r in _mapped(spark)
        .groupBy("client_id", "feature_type", "feature_name")
        .agg(F.min("submission_date").alias("cohort_date"))
        .collect()
    }
    assert got == want


def test_rerun_is_idempotent(spark, warehouse):
    wh, pipe = warehouse
    before = {
        t: spark.read.parquet(f"{wh}/{t}").count()
        for t in ("feature_usage_daily", "feature_cohort_date", "cohort_retained_users")
    }
    pipe.run_day(spark, DATES[-1])  # re-run the last day
    after = {
        t: spark.read.parquet(f"{wh}/{t}").count()
        for t in ("feature_usage_daily", "feature_cohort_date", "cohort_retained_users")
    }
    assert before == after


def test_table_rereads_reuse_the_inferred_schema(spark, warehouse):
    """Only a table's first read infers its schema (a footer-reading
    Spark job); later reads pass that schema back and launch no job."""
    wh, pipe = warehouse
    first = pipe._resolve(spark, "feature_cohort_date")
    sc = spark.sparkContext
    sc.setJobGroup("dag-reread", "table re-read")
    try:
        again = pipe._resolve(spark, "feature_cohort_date")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("dag-reread")) == []
    assert again.schema == first.schema
    assert again.count() == spark.read.parquet(f"{wh}/feature_cohort_date").count()


def test_retained_users_window(spark, warehouse):
    wh, pipe = warehouse
    got = spark.read.parquet(f"{wh}/cohort_retained_users")
    rows = got.collect()
    assert rows, "retention table empty"
    # the backfill window is 7 days before the last run date
    assert all(str(r.day) >= "2024-01-23" for r in rows)
    for r in rows:
        assert r.d0_retained <= r.cohort_size
        assert r.d1_retained <= r.cohort_size


def test_run_manifest_records_observed_counts(spark, warehouse):
    """Every table write appends a manifest line whose row count was
    observed by the write action itself (no second scan) and matches
    the materialized partition."""
    import json
    import os

    wh, _pipe = warehouse
    path = os.path.join(wh, "_manifest.jsonl")
    assert os.path.exists(path)
    lines = [json.loads(l) for l in open(path)]
    assert lines
    by_task = {}
    for m in lines:
        assert m["n_rows"] >= 0 and m["sec"] >= 0
        by_task.setdefault(m["task"], []).append(m)
    # spot-check one materialized table against its manifest total
    task, entries = sorted(by_task.items())[0]
    manifest_total = sum(m["n_rows"] for m in entries)
    # re-runs overwrite partitions, so the on-disk count can be below
    # the manifest sum but never above it
    on_disk = spark.read.parquet(os.path.join(wh, task)).count()
    assert on_disk <= manifest_total


def test_incremental_join_view_equals_full_recompute(spark):
    """IVM equivalence: maintaining the revenue-per-customer view via
    the delta decomposition Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB must land on
    EXACTLY the full-recompute result — the gate that makes the
    incremental path trustworthy enough to never re-scan history."""
    from pyspark.sql import functions as F

    from taipei_bi_etl_spark import ivm
    from taipei_bi_etl_spark.io import read_table
    from tests.conftest import SF_DIR

    orders = read_table(spark, SF_DIR, "orders")
    lineitem = read_table(spark, SF_DIR, "lineitem")
    cut = "2000-01-01"
    o_old = orders.filter(F.col("o_orderdate") < F.lit(cut).cast("timestamp"))
    o_new = orders.filter(F.col("o_orderdate") >= F.lit(cut).cast("timestamp"))
    # split lines by their ORDER's date so increments stay aligned
    li = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).drop("o_orderkey")
    li_old = li.filter(F.col("o_orderdate") < F.lit(cut).cast("timestamp")).drop(
        "o_orderdate"
    )
    li_new = li.filter(
        F.col("o_orderdate") >= F.lit(cut).cast("timestamp")
    ).drop("o_orderdate")

    full = ivm.revenue_per_customer(orders, lineitem)
    old_view = ivm.revenue_per_customer(o_old, li_old)
    delta = ivm.delta_revenue_per_customer(o_old, o_new, li_old, li_new)
    merged = ivm.merge_view(old_view, delta)

    a = {
        r.o_custkey: (r.n_orders, r.revenue_cents) for r in full.collect()
    }
    b = {
        r.o_custkey: (r.n_orders, r.revenue_cents) for r in merged.collect()
    }
    assert a == b
