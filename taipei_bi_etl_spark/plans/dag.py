"""Config-driven daily task DAG — the Spark re-expression of the
reference's BigQuery table/view pipeline (SURVEY §3.3):

* hard-coded topo order + ``src`` params
  (``/root/reference/tasks/bigquery.py:416-461``,
  ``configs/bigquery.py:8-322``)      → declared deps, topo-sorted here
* table task: delete-partition + append
  (``tasks/bigquery.py:182-195,315-347``) → dynamic partition overwrite
* view task (``tasks/bigquery.py:137-150``) → temp view over the chain
  (Catalyst collapses a chain of views into ONE optimized plan per
  materialized table — the intra-day fusion the reference can't do)
* self-referencing incremental table with init query
  (``sql/mango_feature_cohort_date.sql:6,20``,
  ``sql/init_mango_feature_cohort_date.sql``) → ``ctx.read_dest`` +
  ``init_fn`` bootstrap
* backfill_days re-runs (``tasks/bigquery.py:42-55,464-474``) →
  one dynamic overwrite covering the trailing window

Scale: materialized tables are date-partitioned parquet, so every
downstream daily read prunes to one partition; a day's chain of views
executes as a single Spark job per table write, not 18 BigQuery jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from taipei_bi_etl_spark.io import write_partitioned


@dataclass
class TaskContext:
    """Handed to every task fn: upstream outputs + own-destination access."""

    spark: SparkSession
    pipeline: "Pipeline"
    date: str  # execution date YYYY-MM-DD
    task: "TaskSpec"

    def src(self, name: str) -> DataFrame:
        """Upstream output (view plan or materialized table scan)."""
        return self.pipeline._resolve(self.spark, name)

    def read_dest(self) -> DataFrame | None:
        """This task's own existing destination (the incremental
        self-reference pattern), or None before first materialization.
        A directory without data entries (an init bootstrap that found no
        history writes zero partitions) counts as absent."""
        path = self.pipeline._table_path(self.task.name)
        if not os.path.isdir(path) or all(
            e.startswith(("_", ".")) for e in os.listdir(path)
        ):
            return None
        try:
            return self.pipeline._read_table(self.spark, self.task.name)
        except Exception:
            return None


class CleanupPolicy:
    """Pre-write destination cleanup beyond the generic dynamic
    partition overwrite — the reference's two CUSTOM cleanup queries as
    declarative DAG policy (VERDICT r01 #7)."""

    def apply(self, ctx: "TaskContext", path: str) -> None:  # pragma: no cover
        raise NotImplementedError


@dataclass
class RollingWipe(CleanupPolicy):
    """``sql/cleanup_mango_cohort_retained_users.sql``: DELETE WHERE
    partition >= start_date - N days.  Dynamic overwrite already
    replaces partitions the recompute WRITES; the wipe removes window
    partitions the recompute produced no rows for (a cohort day whose
    activity aged out) — without it those go stale forever.

    Scale: pure partition-metadata surgery — directory removals, no
    data read."""

    days: int

    def apply(self, ctx: "TaskContext", path: str) -> None:
        import datetime

        if not os.path.exists(path):
            return
        t = ctx.task
        d0 = datetime.date.fromisoformat(ctx.date)
        lo = d0 - datetime.timedelta(days=self.days)
        for entry in os.listdir(path):
            if not entry.startswith(f"{t.partition_col}="):
                continue
            val = entry.split("=", 1)[1]
            try:
                part_date = datetime.date.fromisoformat(val)
            except ValueError:
                continue
            if lo <= part_date <= d0:
                shutil.rmtree(os.path.join(path, entry))


@dataclass
class DeleteByKeys(CleanupPolicy):
    """``sql/cleanup_mango_user_channels.sql``: DELETE rows whose key
    appears in today's source (the clients being re-attributed land in
    TODAY's partition; their previous attribution lives in OLD
    partitions and must go, or the table holds two rows per client).

    Scale path (BigQuery scans the whole table for this DELETE): the
    victim keys join against the dest ONCE to find the affected
    partitions and which of them keep any row, then ONLY those
    partitions are rewritten minus victims via dynamic overwrite —
    partitions untouched by any victim are never read or written."""

    key_col: str
    victims_fn: Callable[["TaskContext"], DataFrame]

    def apply(self, ctx: "TaskContext", path: str) -> None:
        dest = ctx.read_dest()
        if dest is None:
            return
        t = ctx.task
        victims = self.victims_fn(ctx).select(self.key_col).distinct()
        # per partition: does it hold a victim row, and any other row?
        victim = F.col("_victim").isNotNull()
        parts = (
            # bounded: victim key list
            dest.join(
                F.broadcast(victims.withColumn("_victim", F.lit(True))),
                self.key_col, "left",
            )
            .groupBy(t.partition_col)
            .agg(F.max(victim).alias("hit"), F.max(~victim).alias("kept"))
            .filter("hit")
            .collect()
        )
        if not parts:
            return
        keep = (
            dest.filter(F.col(t.partition_col).isin([r[0] for r in parts]))
            # bounded: victim key list
            .join(F.broadcast(victims), self.key_col, "left_anti")
        )
        # rewrite only the affected partitions (dynamic overwrite).
        # `keep` lazily reads the very path being overwritten.  That is
        # safe ONLY under dynamic partition overwrite (commit replaces
        # matching partitions after the job has read its input); under
        # static mode Spark truncates the whole path at job start and
        # the read returns nothing.  Don't trust session config drift —
        # force dynamic for the duration of this write.
        conf = ctx.spark.conf
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = conf.get(key, None)
        conf.set(key, "dynamic")
        try:
            keep.write.mode("overwrite").partitionBy(
                t.partition_col
            ).parquet(path)
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)
        # partitions that lost ALL rows need explicit removal since an
        # empty frame writes nothing
        for r in parts:
            gone = os.path.join(path, f"{t.partition_col}={r[0]}")
            if not r["kept"] and os.path.exists(gone):
                shutil.rmtree(gone)


@dataclass
class TaskSpec:
    """One node: view (lazy plan) or table (date-partitioned parquet)."""

    name: str
    fn: Callable[[TaskContext], DataFrame]
    deps: Sequence[str] = ()
    kind: str = "table"  # "table" | "view"
    partition_col: str = "day"
    init_fn: Callable[[TaskContext], DataFrame] | None = None
    # table writes cover [date - N, date] instead of the single
    # execution date, N = window_days (the 112-day retained-users
    # recompute) or else max(backfill_days) (the reference's backfill
    # re-run of the trailing days)
    backfill_days: Sequence[int] = field(default_factory=tuple)
    window_days: int | None = None
    cleanup: CleanupPolicy | None = None


class Pipeline:
    """Topo-ordered daily pipeline over a parquet warehouse dir."""

    def __init__(self, tasks: Sequence[TaskSpec], warehouse: str):
        self.tasks = {t.name: t for t in tasks}
        if len(self.tasks) != len(tasks):
            raise ValueError("duplicate task names")
        ts = TopologicalSorter({t.name: set(t.deps) for t in tasks})
        self.order = list(ts.static_order())
        self.warehouse = warehouse
        self._views: dict[str, DataFrame] = {}
        self._schemas: dict[str, StructType] = {}

    def _table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _resolve(self, spark: SparkSession, name: str) -> DataFrame:
        t = self.tasks[name]
        if t.kind == "view":
            return self._views[name]
        return self._read_table(spark, name)

    def _read_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Scan of a materialized table.  A node's output schema is fixed,
        so only the first read infers it (a Spark job per inference)."""
        schema = self._schemas.get(name)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(self._table_path(name))
        self._schemas[name] = df.schema
        return df

    def run_day(self, spark: SparkSession, date: str) -> None:
        """Run the whole DAG for one execution date, idempotently: table
        writes are dynamic-partition overwrites of that date (and its
        backfill window), views are re-registered plans."""
        for name in self.order:
            t = self.tasks[name]
            ctx = TaskContext(spark=spark, pipeline=self, date=date, task=t)
            if t.kind == "view":
                self._views[name] = t.fn(ctx)
                continue
            if t.init_fn is not None and ctx.read_dest() is None:
                init_df = t.init_fn(ctx)
                write_partitioned(
                    init_df, self._table_path(name), t.partition_col
                )
            out = t.fn(ctx)
            # restrict to the execution date, or to [date - span, date]
            # for a recompute window / backfill re-run
            span = t.window_days
            if span is None:
                span = max(t.backfill_days, default=None)
            part, day = F.col(t.partition_col), F.lit(date)
            window = out.filter(
                part == day
                if span is None
                else part.between(F.date_sub(day, span), day)
            )
            if t.cleanup is not None:
                t.cleanup.apply(ctx, self._table_path(name))
            # run manifest: row count + partition bounds observed BY the
            # write action itself (df.observe — no second scan; the
            # reference's post-hoc asserts each re-scan the frame)
            obs = Observation(f"{name}@{date}")
            window = window.observe(
                obs,
                F.count(F.lit(1)).alias("n_rows"),
                F.min(t.partition_col).alias("min_part"),
                F.max(t.partition_col).alias("max_part"),
            )
            t0 = time.perf_counter()
            write_partitioned(window, self._table_path(name), t.partition_col)
            got = obs.get
            with open(
                os.path.join(self.warehouse, "_manifest.jsonl"), "a"
            ) as fh:
                fh.write(
                    json.dumps(
                        {
                            "date": date,
                            "task": name,
                            "n_rows": got["n_rows"],
                            "min_part": str(got["min_part"]),
                            "max_part": str(got["max_part"]),
                            "sec": round(time.perf_counter() - t0, 3),
                        },
                        sort_keys=True,
                    )
                    + "\n"
                )

    def run_range(self, spark: SparkSession, dates: Sequence[str]) -> None:
        for d in dates:
            self.run_day(spark, d)
