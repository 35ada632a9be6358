#!/usr/bin/env python
"""Dump `.explain("formatted")` for queries into
plans/<round>/<query>_<tag>.txt (tag = before|after), an
optimization round's evidence files.

Usage: python tools/dump_round_plans.py <round> before|after [query ...]
(e.g. ``r11 after``; default queries: the whole bench.HEADLINE set;
sf0.01 so construction probes stay cheap — plan SHAPE is scale-free).

Executed plans are not stable for every query: the plan string of the
22-``countDistinct`` retention pivot (the DAG's
``mango_cohort_retained_users`` node, ``mango_retained_users_snapshot``)
differs between two runs of the same code, because Spark's
distinct-aggregate rewrite numbers its Expand groups in a
hash-dependent order.  Compare analyzed plans for that pivot, or
normalize the Expand group order, before diffing two dumps.
"""
from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    from bench import HEADLINE
    from taipei_bi_etl_spark.queries import REGISTRY, release_tracked
    from taipei_bi_etl_spark.session import get_spark

    names = sys.argv[3:] or HEADLINE
    out_dir = Path(_REPO) / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"{rnd}_plans")
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        df = spec.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")
    release_tracked()
    spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
