"""The benchmark's workloads: fixed op lists and the loops that run them.

Each workload is a closed loop with one client thread (the registry is
single-threaded by contract).  An op list is a pure function of
``(workload, seed, seconds)``, so two runs with one seed execute the same
ops.  Set-up (session, fixture, oracle counts, warmup) is timed as a
whole for ``setup_s``; the ops of the op list are timed one by one.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from perfbench import stats, tracing

#: Light registry queries: each op is mostly driver-side expression
#: construction and Catalyst planning.  A subset of the light
#: ``bench.HEADLINE`` pack chosen to fit the benchmark's time budget
#: while spanning its families (telemetry, relational joins, as-of join,
#: text, the VARIANT ingest fixture).
BI_QUERIES = (
    "cohort_retention",
    "active_user_counts",
    "pricing_summary",
    "dim_join_chain",
    "asof_join_attribution",
    "doc_fingerprint_winnow",
    "variant_ingest_kv_rollup",
)
#: Untimed passes before timing, the oracle hash check pass included.
#: Pass times keep falling (JIT and codegen warmup) for six to eight
#: passes after a cold session, and fall more slowly when the host is
#: busy.  Timing starts after the steepest part; the passes that are
#: still warming sit in the upper tail of each type's median over a
#: long window.
BI_WARMUP_PASSES = 4
#: Warm seconds per pass over BI_QUERIES on a 4-core host; turns
#: ``--seconds`` into the number of whole passes that fit.
BI_PASS_S = 2.2

#: The active-user branch of the mango DAG: the tables it writes (views
#: are pulled in as dependencies).  It keeps every write-path mechanism
#: of the full pipeline but one (``RollingWipe``): dynamic partition
#: overwrite, the ``DeleteByKeys`` cleanup (user channels), init
#: bootstraps, the incremental self-read (feature cohort date) and the
#: ``Observation`` manifest, plus the costliest node (active user count).
DAG_TABLES = (
    "mango_events",
    "mango_user_channels",
    "mango_feature_cohort_date",
    "mango_active_user_count",
)
#: Execution dates the seed picks from: late in the 30-day fixture, so
#: every 28-day window is nearly full and the work per date is alike.
DAG_DATES = tuple(f"2024-01-{d}" for d in range(22, 30))
#: Seconds one rerun takes with its checks on a busy 4-core host (12 to
#: 16 s measured); turns ``--seconds`` into the number of whole reruns
#: that fit.
DAG_RERUN_S = 16.0
#: Column types the table checksum compares (float sums may change
#: with summation order).
_CHECKSUM_TYPES = ("string", "int", "bigint", "date")

WORKLOADS = ("bi_interactive", "daily_dag")


def op_list(workload: str, seed: int, seconds: int) -> list[str]:
    """The timed ops of one run.  ``bi_interactive``: whole passes over
    BI_QUERIES, each pass in a seeded order.  ``daily_dag``: reruns of
    one seeded execution date."""
    if workload == "bi_interactive":
        ops: list[str] = []
        for p in range(max(1, int(seconds // BI_PASS_S))):
            order = list(BI_QUERIES)
            random.Random(f"{seed}:{p}").shuffle(order)
            ops.extend(order)
        return ops
    if workload == "daily_dag":
        date = DAG_DATES[seed % len(DAG_DATES)]
        return [f"run_day@{date}"] * max(1, int(seconds // DAG_RERUN_S))
    raise ValueError(f"unknown workload {workload!r}")


class Run:
    """State of one benchmark run: session, fixture, counters, records."""

    def __init__(self, spark, sf_dir: str, work_dir: str, tracer) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tracer = tracer  # None when untraced
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []  # one per timed op

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation, and a failed one if not ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def guarded(self, what: str, fn):
        """Run ``fn``; an exception counts as a failed op and the run
        continues."""
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.check(False, what)
            return None


# ---------------------------------------------------------------------------
# bi_interactive
# ---------------------------------------------------------------------------

def _duckdb(sf_dir: str):
    import duckdb

    from taipei_bi_etl_spark.io import TEST_TABLES

    con = duckdb.connect()
    for t in TEST_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


def _norm_cell(v):
    """Cell normalisation of the oracle comparison (queries round floats)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.12g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _multiset(cols: list[str], rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm_cell(r[i]) for i in idx) for r in rows), key=repr
    )


def oracle_hash_matches(spark_df, con, sql: str) -> bool:
    """Columns plus order-insensitive row values equal the DuckDB twin's."""
    s_rows = spark_df.collect()
    res = con.execute(sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    if sorted(spark_df.columns) != sorted(d_cols):
        return False
    return _multiset(list(spark_df.columns), s_rows) == _multiset(d_cols, d_rows)


def setup_bi(run: Run) -> dict:
    """Oracle twin row counts, then the untimed warmup passes in fixed
    order.  The first (cold) pass is the run's one oracle hash check per
    query; the others run the timed op."""
    from taipei_bi_etl_spark.queries import REGISTRY

    con = _duckdb(run.sf_dir)
    twins = {
        q: con.execute(
            f"SELECT count(*) FROM ({REGISTRY[q].oracle})"
        ).fetchone()[0]
        for q in BI_QUERIES
    }
    for q in BI_QUERIES:
        spec = REGISTRY[q]
        ok = run.guarded(
            q,
            lambda: oracle_hash_matches(
                spec.fn(run.spark, run.sf_dir), con, spec.oracle
            ),
        )
        if ok is not None:
            run.check(ok, f"oracle hash {q}")
    con.close()
    for _ in range(BI_WARMUP_PASSES - 1):
        for q in BI_QUERIES:
            n = run.guarded(
                q, lambda q=q: REGISTRY[q].fn(run.spark, run.sf_dir).count()
            )
            if n is not None:
                run.check(n == twins[q], f"warmup {q}: {n} rows, twin {twins[q]}")
    return {"twins": twins}


def run_bi(run: Run, ops: list[str], state: dict) -> None:
    from taipei_bi_etl_spark.queries import REGISTRY

    sc = run.spark.sparkContext
    tr = run.tracer
    for op_id, q in enumerate(ops):
        fn = REGISTRY[q].fn
        rec = {"op": op_id, "type": q}
        t0 = time.perf_counter()
        try:
            if tr is None:
                n = fn(run.spark, run.sf_dir).count()
            else:
                with tr.span(q, op_id):
                    sc.setJobGroup(f"perfbench-{op_id}-build", q)
                    with tr.span("queries.build", op_id):
                        df = fn(run.spark, run.sf_dir)
                    with tr.span("catalyst.plan", op_id):
                        jplan = df._jdf.queryExecution().executedPlan()
                    sc.setJobGroup(f"perfbench-{op_id}-exec", q)
                    with tr.span("exec", op_id):
                        n = df.count()
            ok = n == state["twins"][q]
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        rec["s"] = time.perf_counter() - t0
        rec["ok"] = run.check(ok, f"op {op_id} {q}")
        if tr is not None and ok:
            rec.update(_bi_layers(run, op_id, jplan))
        run.records.append(rec)


def _bi_layers(run: Run, op_id: int, jplan) -> dict:
    tr = run.tracer
    exec_s = tr.total(op_id, "exec")
    layers = {
        "queries.build_s": tr.total(op_id, "queries.build"),
        "queries.build_jobs": len(
            run.spark.sparkContext.statusTracker().getJobIdsForGroup(
                f"perfbench-{op_id}-build"
            )
        ),
        "catalyst.plan_s": tr.total(op_id, "catalyst.plan"),
        **tracing.plan_shape(jplan),
        **tracing.exec_metrics(run.spark, f"perfbench-{op_id}-exec", exec_s),
    }
    layers["layers_s"] = (
        layers["queries.build_s"] + layers["catalyst.plan_s"] + exec_s
    )
    return layers


# ---------------------------------------------------------------------------
# daily_dag
# ---------------------------------------------------------------------------

def _manifest_rows(wh: str) -> list[dict]:
    path = os.path.join(wh, "_manifest.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh]


def setup_dag(run: Run, date: str) -> dict:
    """Build the branch pipeline and its warehouse: one run of ``date``
    over an empty warehouse (the init bootstraps fold in all earlier
    history).  A copy of that state is the reference every rerun must
    reproduce."""
    from taipei_bi_etl_spark.plans.dag import Pipeline
    from taipei_bi_etl_spark.plans.mango_dag import build_full_mango_pipeline

    wh = os.path.join(run.work_dir, "warehouse")
    full = build_full_mango_pipeline(run.sf_dir, wh)
    needed: set[str] = set()
    todo = list(DAG_TABLES)
    while todo:
        name = todo.pop()
        if name not in needed:
            needed.add(name)
            todo.extend(full.tasks[name].deps)
    pipe = Pipeline([full.tasks[n] for n in full.order if n in needed], wh)
    run.guarded("setup run_day", lambda: pipe.run_day(run.spark, date))
    ref = os.path.join(run.work_dir, "reference")
    for t in DAG_TABLES:
        shutil.copytree(os.path.join(wh, t), os.path.join(ref, t))
    return {"pipe": pipe, "wh": wh, "ref": ref, "date": date, "manifest": None}


def _check_rerun(run: Run, state: dict, op_id: int, new_rows: list[dict]) -> bool:
    """Table checksums equal the set-up state; manifest ``n_rows`` equal
    the first rerun's."""
    from taipei_bi_etl_spark.checks import compare_tables_checksum

    ok = True
    for t in DAG_TABLES:
        ref = run.spark.read.parquet(os.path.join(state["ref"], t))
        cur = run.spark.read.parquet(os.path.join(state["wh"], t))
        cols = [
            f.name for f in cur.schema.fields
            if f.dataType.simpleString() in _CHECKSUM_TYPES
        ]
        r = compare_tables_checksum(run.spark, ref, cur, cols)
        ok &= run.check(r["match"], f"op {op_id} checksum {t}: {r}")
    rows = {m["task"]: m["n_rows"] for m in new_rows}
    if state["manifest"] is None:
        state["manifest"] = rows
    else:
        ok &= run.check(
            rows == state["manifest"],
            f"op {op_id} manifest {rows} != {state['manifest']}",
        )
    return ok


def run_dag(run: Run, ops: list[str], state: dict) -> None:
    pipe, wh, date = state["pipe"], state["wh"], state["date"]
    tr = run.tracer
    for op_id, op in enumerate(ops):
        rec = {"op": op_id, "type": op}
        n_manifest = len(_manifest_rows(wh))
        before = tracing.file_stats(wh) if tr is not None else None
        t0 = time.perf_counter()
        try:
            if tr is None:
                pipe.run_day(run.spark, date)
            else:
                run.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", op)
                with tr.span(op, op_id), _DagProbe(tr, pipe, op_id):
                    pipe.run_day(run.spark, date)
            ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        rec["s"] = time.perf_counter() - t0
        new_rows = _manifest_rows(wh)[n_manifest:]
        if ok:
            ok = run.guarded(
                "checks", lambda: _check_rerun(run, state, op_id, new_rows)
            ) is True
        rec["ok"] = run.check(ok, f"op {op_id} {op}")
        if tr is not None and ok:
            rec.update(_dag_layers(run, op_id, rec["s"], new_rows, before, wh))
        run.records.append(rec)


class _DagProbe:
    """Wraps, for one traced op, the names ``plans.dag`` looks up: each
    node's build function, init bootstrap and cleanup policy, the
    ``write_partitioned`` sink, and the DataFrameWriter calls under it."""

    def __init__(self, tracer, pipe, op_id: int) -> None:
        self.tr, self.pipe, self.op = tracer, pipe, op_id
        self._undo: list = []

    def _patch(self, obj, attr: str, span: str, node: str | None) -> None:
        orig = getattr(obj, attr)
        tr, op = self.tr, self.op

        def wrapped(*a, **k):
            n = node
            if n is None:  # write_partitioned(df, path, ...)
                n = os.path.basename(str(a[1] if len(a) > 1 else k["path"]))
            with tr.span(span, op, node=n):
                return orig(*a, **k)

        setattr(obj, attr, wrapped)
        self._undo.append((obj, attr, orig))

    def __enter__(self):
        from pyspark.sql.readwriter import DataFrameWriter

        from taipei_bi_etl_spark.plans import dag

        for name, t in self.pipe.tasks.items():
            self._patch(t, "fn", "dag.build", name)
            if t.init_fn is not None:
                self._patch(t, "init_fn", "dag.build", name)
            if t.cleanup is not None:
                self._patch(t.cleanup, "apply", "dag.cleanup", name)
        self._patch(dag, "write_partitioned", "dag.write", None)
        for attr in ("save", "parquet"):
            self._patch(DataFrameWriter, attr, "io.write", "-")
        return self

    def __exit__(self, *exc) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)


def _dag_layers(run, op_id, wall_s, new_rows, before, wh) -> dict:
    tr = run.tracer
    files, nbytes = tracing.written_files(before, tracing.file_stats(wh))
    build = tr.total(op_id, "dag.build")
    cleanup = tr.total(op_id, "dag.cleanup")
    write = tr.total(op_id, "dag.write")
    layers = {
        "dag.node_build_s": build,
        "dag.cleanup_s": cleanup,
        "dag.write_s": write,
        "dag.rows_written": sum(m["n_rows"] for m in new_rows),
        "io.write_s": tr.total(op_id, "io.write"),
        "io.files_written": files,
        "io.bytes_written": nbytes,
        **tracing.exec_metrics(run.spark, f"perfbench-{op_id}", wall_s),
        "layers_s": build + cleanup + write,
    }
    for t in DAG_TABLES:
        layers[f"dag.node.{t}.s"] = sum(
            tr.total(op_id, name, node=t)
            for name in ("dag.build", "dag.cleanup", "dag.write")
        )
    return layers


# ---------------------------------------------------------------------------
# Summaries
# ---------------------------------------------------------------------------

def per_layer_summary(records: list[dict], names: list[str], cores: int) -> dict:
    """Workload value of each per-layer metric from the traced records:
    per op type the median, then summed over types (one median pass),
    except for ratios, which are recomputed from those sums."""
    ok = [r for r in records if r["ok"] and "layers_s" in r]
    types = sorted({r["type"] for r in ok})

    def total(k: str) -> float:
        return sum(
            statistics.median(r.get(k, 0) for r in ok if r["type"] == t)
            for t in types
        )

    out = {n: total(n) for n in names}
    out["exec.task_skew"] = max(
        (statistics.median(r["exec.task_skew"] for r in ok if r["type"] == t)
         for t in types),
        default=1.0,
    )
    wall = total("exec.wall_s")
    out["exec.cpu_busy"] = total("exec.task_cpu_s") / (wall * cores) if wall else 0.0
    out["trace.op_geomean_s"] = (
        stats.geomean_of_type_medians((r["type"], r["s"]) for r in ok)
        if ok else 0.0
    )
    op_s = total("s")
    out["trace.span_coverage"] = total("layers_s") / op_s if op_s else 0.0
    return out


def ledger(records: list[dict]) -> dict:
    """Per op type: sample count, median of every recorded number, and
    whether the layer spans cover the op wall time within 10%."""
    out = {}
    for t in sorted({r["type"] for r in records}):
        rs = [r for r in records if r["type"] == t]
        good = [r for r in rs if r["ok"]]
        keys = sorted({k for r in good for k in r} - {"op", "type", "ok"})
        entry = {
            "samples": len(rs),
            "failed": len(rs) - len(good),
            "median": {k: statistics.median(r[k] for r in good) for k in keys},
        }
        m = entry["median"]
        if "layers_s" in m and m.get("s"):
            entry["span_coverage"] = m["layers_s"] / m["s"]
            entry["coverage_within_10pct"] = abs(1 - entry["span_coverage"]) <= 0.10
        out[t] = entry
    return out
