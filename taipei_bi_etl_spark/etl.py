"""Entry-point parity with the reference's ``etl.py:12-40``: dispatch a
named task (or all of them in sequence) with step gating.

Reference CLI: ``--task {rps,revenue,adjust,bigquery} --step {e,t,l}
--date ... --dest ...``; no task → run all (``etl.py:36-40``).  Here the
"bigquery" task family is the 18-task daily DAG
(``plans/mango_dag.py::build_full_mango_pipeline``) and the pandas tasks
are the EtlTask subclasses — all driven through one ``run_task``
function, importable or via ``python -m taipei_bi_etl_spark.etl``.
"""

from __future__ import annotations

import argparse
from collections.abc import Callable

from pyspark.sql import SparkSession

TASKS = ("revenue", "rps", "adjust", "pipeline")


def get_task(name: str):
    """Task registry (reference ``tasks/bigquery.py:370-377`` shape)."""
    if name == "revenue":
        from taipei_bi_etl_spark.tasks.revenue import RevenueTask

        return RevenueTask
    if name == "rps":
        from taipei_bi_etl_spark.tasks.rps import RpsTask

        return RpsTask
    if name == "adjust":
        from taipei_bi_etl_spark.tasks.adjust import AdjustTask

        return AdjustTask
    raise ValueError(f"unknown task {name!r}")


def run_task(
    spark: SparkSession,
    name: str,
    sources: dict | None = None,
    fetcher: Callable[[str], str] | None = None,
    dest_dir: str | None = None,
    raw_dir: str | None = None,
):
    """Instantiate + run one ETL task; ``sources`` overrides the class's
    source configs (how tests/deployments inject const/file/api)."""
    cls = get_task(name)
    task = cls(fetcher=fetcher, raw_dir=raw_dir)
    if sources is not None:
        task.sources = sources
    return task.run(spark, dest_dir=dest_dir)


def run_pipeline(spark: SparkSession, sf_dir: str, warehouse: str, dates):
    """The daily DAG (reference entry point C, ``etl.py --task bigquery``):
    the 18-task reference-parity pipeline, run over ``dates`` in order."""
    from taipei_bi_etl_spark.plans.mango_dag import build_full_mango_pipeline

    pipe = build_full_mango_pipeline(sf_dir, warehouse)
    pipe.run_range(spark, list(dates))
    return pipe


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--task", choices=TASKS, help="run one task (default: DAG)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--warehouse", default="./spark-warehouse/mango")
    ap.add_argument("--date", action="append", default=None)
    args = ap.parse_args(argv)

    from taipei_bi_etl_spark.session import get_spark

    spark = get_spark(app_name=f"etl-{args.task or 'pipeline'}")
    if args.task in (None, "pipeline"):
        dates = args.date or ["2024-01-30"]
        run_pipeline(spark, args.sf_dir, args.warehouse, dates)
    else:
        run_task(spark, args.task)


if __name__ == "__main__":
    main()
