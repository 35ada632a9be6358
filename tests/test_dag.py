"""DAG-runner gates on a tiny synthetic Pipeline: view chaining, the
incremental self-referencing table with init bootstrap, the backfill
window, partition-overwrite idempotency, the run manifest and schema
reuse on re-read — plus the ``etl`` entry point that builds the daily
DAG.  The full 18-task DAG has its own end-to-end gates in
``tests/test_mango_full_dag.py``."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from taipei_bi_etl_spark.plans.dag import Pipeline, TaskSpec

DATES = ["2024-01-03", "2024-01-04", "2024-01-05"]

# (client_id, feature, day): repeat touches, a feature the view drops,
# and a day after the last run date that no write may cover
ROWS = [
    (1, "a", "2024-01-01"),
    (2, "a", "2024-01-02"),
    (1, "b", "2024-01-02"),
    (1, "a", "2024-01-03"),
    (3, "b", "2024-01-03"),
    (2, "b", "2024-01-04"),
    (3, "b", "2024-01-04"),
    (4, "a", "2024-01-05"),
    (1, "a", "2024-01-05"),
    (4, "noise", "2024-01-05"),
    (2, "a", "2024-01-06"),
    (5, "b", "2024-01-06"),
]
KEYS = ["client_id", "feature"]


def _source(spark):
    return spark.createDataFrame(
        ROWS, "client_id long, feature string, day string"
    ).withColumn("day", F.col("day").cast("date"))


def _pipeline(spark, wh: str, init_dates: list[str]) -> Pipeline:
    """events (view) → usage_daily (backfill_days table) and
    first_touch (incremental self-read table with an init query)."""
    source = _source(spark)

    def events(ctx):
        return source.filter(F.col("feature") != "noise")

    def usage_daily(ctx):
        return (
            ctx.src("events")
            .groupBy("day", "feature")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("client_id").alias("n_clients"),
            )
        )

    def first_touch(ctx):
        todays = (
            ctx.src("events")
            .filter(F.col("day") == F.lit(ctx.date))
            .select(*KEYS)
            .distinct()
            .withColumn("day", F.lit(ctx.date).cast("date"))
        )
        seen = ctx.read_dest()
        if seen is None:
            return todays
        return todays.join(seen.select(*KEYS), KEYS, "left_anti")

    def first_touch_init(ctx):
        init_dates.append(ctx.date)
        return (
            ctx.src("events")
            .filter(F.col("day") < F.lit(ctx.date))
            .groupBy(*KEYS)
            .agg(F.min("day").alias("day"))
        )

    return Pipeline(
        [
            TaskSpec("events", events, kind="view"),
            TaskSpec(
                "usage_daily", usage_daily, deps=["events"],
                backfill_days=(1, 2),
            ),
            TaskSpec(
                "first_touch", first_touch, deps=["events"],
                init_fn=first_touch_init,
            ),
        ],
        wh,
    )


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("synthetic_wh"))
    init_dates: list[str] = []
    pipe = _pipeline(spark, wh, init_dates)
    pipe.run_range(spark, DATES)
    return wh, pipe, init_dates


def _events_upto(spark, date):
    return _source(spark).filter(
        (F.col("feature") != "noise") & (F.col("day") <= F.lit(date))
    )


def _table(spark, wh, name):
    df = spark.read.parquet(os.path.join(wh, name))
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_view_chains_into_tables_without_materializing(spark, warehouse):
    """A view task is a plan, never a directory; its filter reaches
    every table that reads it."""
    wh, pipe, _ = warehouse
    assert not os.path.exists(os.path.join(wh, "events"))
    assert pipe._resolve(spark, "events") is pipe._views["events"]
    for t in ("usage_daily", "first_touch"):
        feats = {r.feature for r in spark.read.parquet(f"{wh}/{t}").collect()}
        assert feats == {"a", "b"}, t


def test_usage_daily_matches_batch_rollup(spark, warehouse):
    """Runs on 03..05 with backfill_days=(1, 2) write 01..05 and
    nothing after the last run date."""
    wh, _, _ = warehouse
    got = {
        (str(r.day), r.feature): (r.n_events, r.n_clients)
        for r in spark.read.parquet(f"{wh}/usage_daily").collect()
    }
    want = {
        (str(r.day), r.feature): (r.n_events, r.n_clients)
        for r in _events_upto(spark, DATES[-1])
        .groupBy("day", "feature")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("client_id").alias("n_clients"),
        )
        .collect()
    }
    assert got == want


def test_cohort_incremental_equals_batch_first_touch(spark, warehouse):
    """The self-reading table (init history + one anti-joined day at a
    time) lands on the batch first touch over all days run."""
    wh, _, _ = warehouse
    want = sorted(
        tuple(str(v) for v in r)
        for r in _events_upto(spark, DATES[-1])
        .groupBy(*KEYS)
        .agg(F.min("day").alias("day"))
        .collect()
    )
    # a list, not a dict: a key written twice must show up
    assert _table(spark, wh, "first_touch") == want


def test_init_bootstrap_runs_once(spark, warehouse):
    """The init query runs on the first date only (an empty
    destination), and a rerun of a later date does not repeat it."""
    wh, pipe, init_dates = warehouse
    assert init_dates == [DATES[0]]
    pipe.run_day(spark, DATES[1])
    assert init_dates == [DATES[0]]


def test_backfill_window_bounds_the_write(spark, tmp_path):
    """One run on date D with backfill_days=(1, 2) writes exactly the
    partitions [D-2, D], although the source holds days on both sides."""
    wh = str(tmp_path)
    _pipeline(spark, wh, []).run_day(spark, "2024-01-05")
    parts = sorted(
        e for e in os.listdir(os.path.join(wh, "usage_daily"))
        if e.startswith("day=")
    )
    assert parts == [
        "day=2024-01-03", "day=2024-01-04", "day=2024-01-05",
    ]


def test_run_manifest_records_observed_counts(spark, warehouse):
    """Every table write appends a manifest line whose row count and
    partition bounds, observed by the write action itself (no second
    scan), match the partitions it materialized."""
    wh, _, _ = warehouse
    lines = [json.loads(l) for l in open(os.path.join(wh, "_manifest.jsonl"))]
    first = {}
    for m in lines:
        assert m["sec"] >= 0
        first.setdefault((m["task"], m["date"]), m)
    span = {"usage_daily": 2, "first_touch": 0}
    assert sorted(first) == sorted((t, d) for t in span for d in DATES)
    for (task, date), m in first.items():
        lo = str(datetime.date.fromisoformat(date) - datetime.timedelta(span[task]))
        assert (m["min_part"], m["max_part"]) == (lo, date), (task, date)
        on_disk = (
            spark.read.parquet(os.path.join(wh, task))
            .filter(F.col("day").between(lo, date))
            .count()
        )
        assert m["n_rows"] == on_disk > 0, (task, date)


def test_rerun_is_idempotent(spark, warehouse):
    """Re-running the last date leaves every table's rows unchanged
    (dynamic partition overwrite + the anti-joined self-read)."""
    wh, pipe, _ = warehouse
    tables = ("usage_daily", "first_touch")
    before = {t: _table(spark, wh, t) for t in tables}
    pipe.run_day(spark, DATES[-1])
    assert {t: _table(spark, wh, t) for t in tables} == before


def test_table_rereads_reuse_the_inferred_schema(spark, warehouse):
    """Only a table's first read infers its schema (a footer-reading
    Spark job); later reads pass that schema back and launch no job."""
    wh, pipe, _ = warehouse
    first = pipe._resolve(spark, "first_touch")
    sc = spark.sparkContext
    sc.setJobGroup("dag-reread", "table re-read")
    try:
        again = pipe._resolve(spark, "first_touch")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("dag-reread")) == []
    assert again.schema == first.schema
    assert again.count() == spark.read.parquet(f"{wh}/first_touch").count()


def test_etl_entry_point_runs_the_full_dag(monkeypatch):
    """``etl.main`` with no --task builds the 18-task reference DAG and
    runs it over the given dates; the switch that once selected the
    condensed 6-task DAG is now an argparse error.  No Spark work: the
    session and run are stubbed."""
    from taipei_bi_etl_spark import etl, session
    from taipei_bi_etl_spark.plans.mango_dag import build_full_mango_pipeline

    runs = []
    monkeypatch.setattr(session, "get_spark", lambda **kw: "spark")
    monkeypatch.setattr(
        Pipeline, "run_range",
        lambda self, spark, dates: runs.append((self, spark, list(dates))),
    )
    etl.main(["--sf-dir", "sf", "--warehouse", "wh", "--date", "2024-01-05"])
    (pipe, spark, dates), = runs
    assert (spark, dates, pipe.warehouse) == ("spark", ["2024-01-05"], "wh")
    assert pipe.tasks.keys() == build_full_mango_pipeline("sf", "wh").tasks.keys()
    removed = "condensed"
    with pytest.raises(SystemExit):
        etl.main([f"--{removed}"])


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
