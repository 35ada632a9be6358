"""End-to-end gates for the full 18-task mango pipeline
(plans/mango_dag.py::build_full_mango_pipeline): every reference task
materializes, re-running a day is idempotent, the two custom cleanup
policies enforce their invariants, and spot metrics agree with direct
recomputation outside the DAG machinery."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from taipei_bi_etl_spark.plans.mango_dag import build_full_mango_pipeline
from tests.conftest import SF_DIR

DATES = ["2024-01-05", "2024-01-06", "2024-01-07"]

TABLES = [
    "mango_core",
    "mango_events",
    "mango_user_channels",
    "mango_feature_cohort_date",
    "mango_user_rfe_daily_session",
    "mango_user_rfe_28d",
    "mango_cohort_retained_users",
    "mango_active_user_count",
    "mango_feature_roi",
    "mango_channel_roi",
    "mango_revenue_google",
]


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("mango_full_wh"))
    p = build_full_mango_pipeline(SF_DIR, wh)
    p.run_range(spark, DATES)
    return wh


def _read(spark, wh, table):
    return spark.read.parquet(os.path.join(wh, table))


def test_all_reference_tables_materialize(spark, warehouse):
    for t in TABLES:
        n = _read(spark, warehouse, t).count()
        assert n > 0, f"{t} is empty"


def test_rerun_last_day_is_idempotent(spark, warehouse):
    """Re-running the last execution date must leave every table's
    content multiset unchanged (dynamic overwrite + cleanup policies +
    incremental anti-joins are all idempotent)."""
    from taipei_bi_etl_spark.checks import compare_tables_checksum

    before = {
        t: _read(spark, warehouse, t).cache() for t in TABLES
    }
    for df in before.values():
        df.count()  # pin content before the re-run rewrites files
    p = build_full_mango_pipeline(SF_DIR, warehouse)
    p.run_day(spark, DATES[-1])
    for t in TABLES:
        after = _read(spark, warehouse, t)
        cols = [
            c for c in after.columns
            if after.schema[c].dataType.simpleString()
            in ("string", "int", "bigint", "date")
        ]
        r = compare_tables_checksum(spark, before[t], after, cols)
        assert r["match"], f"{t} changed on re-run: {r}"
        before[t].unpersist()


def test_user_channels_single_attribution_per_client(spark, warehouse):
    """DeleteByKeys cleanup: a client re-attributed on a later day must
    not retain stale rows in old partitions — each client appears under
    exactly ONE execution_date, and within it only RANK()=1 ties."""
    uc = _read(spark, warehouse, "mango_user_channels")
    per_client = uc.groupBy("client_id").agg(
        F.countDistinct("execution_date").alias("n_dates"),
        F.countDistinct("creative_token").alias("n_creatives"),
    )
    bad = per_client.filter(
        (F.col("n_dates") > 1) | (F.col("n_creatives") > 1)
    ).count()
    assert bad == 0
    # every attributed client carries the IFNULL defaults, never NULL
    assert uc.filter(F.col("network_name").isNull()).count() == 0


def test_cohort_dates_unique_per_cohort_key(spark, warehouse):
    fcd = _read(spark, warehouse, "mango_feature_cohort_date")
    keys = [
        "measure_type", "cohort_level", "cohort_name",
        "os", "country", "client_id",
    ]
    dup = (
        fcd.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup == 0, "incremental anti-join admitted duplicate cohort rows"


def test_retained_users_pivot_invariants(spark, warehouse):
    """Every retained count is bounded by its grain's cohort size, and
    the rolling wipe leaves no partition older than the window."""
    import datetime

    r = _read(spark, warehouse, "mango_cohort_retained_users")
    for n in (1, 3, 7, 14, 28, 56, 84):
        assert (
            r.filter(
                F.col(f"d{n}_retained_users") > F.col("daily_cohort_size")
            ).count()
            == 0
        ), f"d{n} exceeds cohort size"
    for n in (1, 2, 3, 4, 8, 12):
        assert (
            r.filter(
                F.col(f"w{n}_retained_users") > F.col("weekly_cohort_size")
            ).count()
            == 0
        )
    lo = datetime.date.fromisoformat(DATES[-1]) - datetime.timedelta(days=112)
    stale = r.filter(F.col("cohort_date") < F.lit(str(lo))).count()
    assert stale == 0, "rolling wipe left partitions outside the window"


def test_active_user_count_dau_wau_mau_ordering(spark, warehouse):
    au = _read(spark, warehouse, "mango_active_user_count")
    assert au.filter(F.col("dau") > F.col("wau")).count() == 0
    assert au.filter(F.col("wau") > F.col("mau")).count() == 0
    assert au.filter(F.col("new_dau") > F.col("dau")).count() == 0


def _node_frame(spark, wh, name, date):
    """A table node's output frame for one date, built over the
    warehouse the way run_day builds it (views registered in order)."""
    from taipei_bi_etl_spark.plans.dag import TaskContext

    p = build_full_mango_pipeline(SF_DIR, wh)
    for n in p.order:
        t = p.tasks[n]
        ctx = TaskContext(spark=spark, pipeline=p, date=date, task=t)
        if n == name:
            return t.fn(ctx)
        if t.kind == "view":
            p._views[n] = t.fn(ctx)
    raise KeyError(name)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_active_user_count_reads_occurrence_chain_once(spark, warehouse):
    """DAU/WAU/MAU come from one pass over ONE copy of the occurrence
    chain: the node's plan scans mango_events once and has no
    multi-distinct Expand; neither does the snapshot sharing the
    helper."""
    from taipei_bi_etl_spark.queries import REGISTRY

    df = _node_frame(spark, warehouse, "mango_active_user_count", DATES[-1])
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key)
    spark.conf.set(key, "10000")  # untruncated scan locations
    try:
        plan = _executed_plan(df)
    finally:
        spark.conf.set(key, prev)
    events = os.path.join(warehouse, "mango_events") + "]"
    assert plan.count(events) == 1, plan
    assert "Expand" not in plan, plan
    snap = REGISTRY["mango_active_user_snapshot"].fn(spark, SF_DIR)
    assert "Expand" not in _executed_plan(snap)


def test_user_channels_aggregates_settings_once(spark, warehouse):
    """The four alt-key arms and the NULL-token arm share ONE tracker
    settings aggregate: the node's plan scans mango_events once."""
    df = _node_frame(spark, warehouse, "mango_user_channels", DATES[-1])
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key)
    spark.conf.set(key, "10000")  # untruncated scan locations
    try:
        plan = _executed_plan(df)
    finally:
        spark.conf.set(key, prev)
    events = os.path.join(warehouse, "mango_events") + "]"
    assert plan.count(events) == 1, plan


def test_revenue_google_matches_direct_recompute(spark, warehouse):
    """payout = capped google volume × country rate, recomputed from
    the core synthesizer without the DAG machinery."""
    from taipei_bi_etl_spark.plans.telemetry_pipeline import (
        google_rps_table,
        synthesize_core_pings,
    )

    rev = _read(spark, warehouse, "mango_revenue_google")
    d = DATES[0]
    direct = (
        synthesize_core_pings(spark, SF_DIR)
        .filter(
            (F.col("app_name") == "Zerda")
            & (F.col("os") == "Android")
            & (F.col("submission_date") == F.lit(d))
        )
        .select(
            F.col("geo_country").alias("country"),
            F.explode("searches").alias("entrypoint", "v"),
        )
        .filter((F.col("v") < 10000) & F.col("entrypoint").like("%google%"))
        .groupBy("country", "entrypoint")
        .agg(F.sum("v").alias("volume"))
        .join(F.broadcast(google_rps_table(spark)), "country", "left")
    )
    expect = {
        (r.country, r.entrypoint): (r.volume, round(r.volume * r.rps, 9))
        for r in direct.collect()
    }
    got = {
        (r.country, r.fx_defined1): (int(r.sales_amount), round(r.payout, 9))
        for r in rev.filter(F.col("utc_date") == F.lit(d)).collect()
    }
    assert got == expect


def test_rfe_28d_frequency_bounded_by_active_days(spark, warehouse):
    rfe = _read(spark, warehouse, "mango_user_rfe_28d")
    bad = rfe.filter(
        F.col("frequency_days") > F.col("active_days")
    ).count()
    assert bad == 0
    # stickiness only materializes past the 7-day age gate
    assert (
        rfe.filter(
            (F.col("age") < 7) & F.col("stickiness").isNotNull()
        ).count()
        == 0
    )


def test_delete_by_keys_removes_emptied_partitions(spark, tmp_path):
    """DeleteByKeys edge case: a partition whose EVERY row belongs to a
    re-attributed client must disappear entirely (an empty dynamic
    overwrite writes nothing, so the policy removes the directory
    explicitly)."""
    import os

    from pyspark.sql import functions as F

    from taipei_bi_etl_spark.plans.dag import (
        DeleteByKeys,
        Pipeline,
        TaskContext,
        TaskSpec,
    )

    path = str(tmp_path / "uc")
    spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")],
        "client_id long, day string",
    ).withColumn("day", F.col("day").cast("date")).write.partitionBy(
        "day"
    ).parquet(path)

    victims = spark.createDataFrame([(1,), (2,)], "client_id long")
    policy = DeleteByKeys("client_id", lambda ctx: victims)
    spec = TaskSpec("uc", lambda ctx: None, partition_col="day")
    pipe = Pipeline([spec], str(tmp_path))
    ctx = TaskContext(spark=spark, pipeline=pipe, date="2024-01-03", task=spec)
    policy.apply(ctx, path)

    assert not os.path.exists(os.path.join(path, "day=2024-01-01"))
    left = spark.read.parquet(path)
    assert [r.client_id for r in left.collect()] == [3]


def test_rolling_wipe_only_touches_window(spark, tmp_path):
    """RollingWipe removes partitions inside [date-N, date] and leaves
    older ones (outside the recompute window) untouched."""
    import os

    from pyspark.sql import functions as F

    from taipei_bi_etl_spark.plans.dag import (
        Pipeline,
        RollingWipe,
        TaskContext,
        TaskSpec,
    )

    path = str(tmp_path / "ret")
    spark.createDataFrame(
        [(1, "2023-01-01"), (2, "2024-01-20"), (3, "2024-01-29")],
        "v long, day string",
    ).withColumn("day", F.col("day").cast("date")).write.partitionBy(
        "day"
    ).parquet(path)
    spec = TaskSpec("ret", lambda ctx: None, partition_col="day")
    pipe = Pipeline([spec], str(tmp_path))
    ctx = TaskContext(spark=spark, pipeline=pipe, date="2024-01-30", task=spec)
    RollingWipe(112).apply(ctx, path)
    assert os.path.exists(os.path.join(path, "day=2023-01-01"))  # pre-window
    assert not os.path.exists(os.path.join(path, "day=2024-01-20"))
    assert not os.path.exists(os.path.join(path, "day=2024-01-29"))
