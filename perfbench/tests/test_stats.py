"""The benchmark's pure statistics and op lists (no Spark)."""

import json
import math
import os

import pytest

from perfbench import stats, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_geomean_of_type_medians_weighs_each_type_once():
    # "a" has three samples (median 2), "b" one (8): sqrt(2 * 8) = 4,
    # however many samples each type has.
    samples = [("a", 1.0), ("a", 2.0), ("a", 30.0), ("b", 8.0)]
    assert stats.geomean_of_type_medians(samples) == pytest.approx(4.0)


def test_geomean_ignores_a_single_gust_per_type():
    base = [(t, s) for t, s in [("q1", 0.2), ("q2", 7.0)] for _ in range(4)]
    gust = base + [("q1", 0.25 * 10), ("q2", 7.0 * 10)]
    assert stats.geomean_of_type_medians(gust) == pytest.approx(
        math.sqrt(0.2 * 7.0)
    )


def test_geomean_rejects_empty_and_non_positive():
    with pytest.raises(ValueError):
        stats.geomean_of_type_medians([])
    with pytest.raises(ValueError):
        stats.geomean_of_type_medians([("a", 0.0)])


def test_ops_per_min_is_ops_over_summed_op_time():
    assert stats.ops_per_min([10.0, 20.0, 30.0]) == pytest.approx(3.0)
    assert stats.ops_per_min([0.5] * 120) == pytest.approx(120.0)
    with pytest.raises(ValueError):
        stats.ops_per_min([])


def test_failed_op_share():
    assert stats.failed_op_share(0, 50) == 0.0
    assert stats.failed_op_share(5, 50) == pytest.approx(0.1)
    for bad in [(1, 0), (-1, 3), (4, 3)]:
        with pytest.raises(ValueError):
            stats.failed_op_share(*bad)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_op_list(workload):
    assert workloads.op_list(workload, 7, 15) == workloads.op_list(workload, 7, 15)


def test_bi_passes_are_permutations_in_seeded_order():
    ops = workloads.op_list("bi_interactive", 3, 15)
    n = len(workloads.BI_QUERIES)
    assert len(ops) % n == 0 and len(ops) // n >= 2
    passes = [ops[i:i + n] for i in range(0, len(ops), n)]
    for p in passes:
        assert sorted(p) == sorted(workloads.BI_QUERIES)
    assert ops != workloads.op_list("bi_interactive", 4, 15)


def test_dag_reruns_one_seeded_date():
    ops = workloads.op_list("daily_dag", 5, 15)
    assert len(set(ops)) == 1
    assert ops[0].split("@")[1] in workloads.DAG_DATES


def test_benchmark_json_names_the_metrics_run_py_prints():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_plan_shape_counts_nodes_and_data_moving_exchanges():
    from perfbench.tracing import plan_shape

    class Plan:
        def treeString(self):
            return "\n".join([
                "AdaptiveSparkPlan isFinalPlan=false",
                "+- HashAggregate(keys=[k#1], functions=[count(1)])",
                "   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS",
                "      +- *(1) Project [k#1]",
                "         :- BroadcastExchange HashedRelationBroadcastMode",
                "         +- ReusedExchange [k#1], Exchange hashpartitioning",
                "",
            ])

    assert plan_shape(Plan()) == {
        "catalyst.plan_nodes": 6,
        "catalyst.exchanges": 2,
    }
