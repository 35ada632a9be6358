"""Direct sink/scan gates: dynamic partition overwrite keeps untouched
partitions, latest-snapshot view, backfill window rewrite, CSV header
injection, and F22 column renaming."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from taipei_bi_etl_spark.functions import rename_snake, to_snake_case
from taipei_bi_etl_spark.io import (
    const_relation,
    latest_partition,
    overwrite_days,
    read_csv,
    write_append_evolving,
    write_partitioned,
)


def _day_df(spark, day: str, values):
    return spark.createDataFrame(
        [(dt.date.fromisoformat(day), v) for v in values], "utc_date date, v int"
    )


def test_dynamic_overwrite_keeps_other_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_day_df(spark, "2024-01-01", [1, 2]), path)
    write_partitioned(_day_df(spark, "2024-01-02", [3]), path)
    # rewrite day 2 only; day 1 must survive
    write_partitioned(_day_df(spark, "2024-01-02", [30, 31]), path)
    got = sorted(
        (str(r.utc_date), r.v) for r in spark.read.parquet(path).collect()
    )
    assert got == [
        ("2024-01-01", 1),
        ("2024-01-01", 2),
        ("2024-01-02", 30),
        ("2024-01-02", 31),
    ]


def test_latest_partition_view(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_day_df(spark, "2024-01-01", [1]), path)
    write_partitioned(_day_df(spark, "2024-01-05", [5, 6]), path)
    got = sorted(r.v for r in latest_partition(spark, path).collect())
    assert got == [5, 6]


def test_overwrite_days_backfill(spark, tmp_path):
    path = str(tmp_path / "t")
    for d, vs in [("2024-01-01", [1]), ("2024-01-02", [2]), ("2024-01-03", [3])]:
        write_partitioned(_day_df(spark, d, vs), path)
    # backfill rewrites only days 2-3 from a combined frame
    comb = _day_df(spark, "2024-01-02", [20]).unionByName(
        _day_df(spark, "2024-01-03", [30])
    )
    overwrite_days(comb, path, ["2024-01-02", "2024-01-03"])
    got = sorted(
        (str(r.utc_date), r.v) for r in spark.read.parquet(path).collect()
    )
    assert got == [("2024-01-01", 1), ("2024-01-02", 20), ("2024-01-03", 30)]


def test_append_evolving_adds_a_column(spark, tmp_path):
    """K4/K5 ALLOW_FIELD_ADDITION: an append may carry a new column;
    a mergeSchema read shows it, NULL on the earlier rows."""
    path = str(tmp_path / "t")
    write_append_evolving(spark.createDataFrame([(1,)], "v int"), path)
    write_append_evolving(
        spark.createDataFrame([(2, "x")], "v int, tag string"), path
    )
    got = spark.read.option("mergeSchema", "true").parquet(path)
    assert sorted((r.v, r.tag) for r in got.collect()) == [(1, None), (2, "x")]


def test_read_csv_header_injection(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("US,100\nID,200\n")
    df = read_csv(spark, str(p), header=False, names=["country", "volume"])
    got = {r.country: r.volume for r in df.collect()}
    assert got == {"US": "100", "ID": "200"}


def test_const_relation(spark):
    df = const_relation(spark, [("a", 1), ("b", 2)], "k string, n int")
    assert df.count() == 2


def test_snake_case_rename(spark):
    assert to_snake_case("campaignToken") == "campaign_token"
    assert to_snake_case("OSVersion") == "os_version"
    assert to_snake_case("HTTPStatus2Code") == "http_status2_code"
    df = const_relation(spark, [(1, 2)], "campaignToken int, NetworkName int")
    assert rename_snake(df).columns == ["campaign_token", "network_name"]


def test_write_training_shards_sizes_and_determinism(spark, tmp_path):
    from taipei_bi_etl_spark.io import read_table, write_training_shards
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    d = read_table(spark, SF_DIR, "documents")
    target = 20_000
    p1 = str(tmp_path / "shards1")
    n_shards = write_training_shards(d, p1, tokens_per_shard=target)
    out = spark.read.parquet(p1)
    # nothing lost, shard ids dense-bounded
    assert out.count() == d.count()
    assert out.select("shard_id").distinct().count() <= n_shards
    # per-shard token totals concentrate around the target (hash
    # assignment: loose 3x bound, no shard empty beyond hash variance)
    tok = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    per = out.groupBy("shard_id").agg(F.sum(tok).alias("t")).collect()
    assert max(r.t for r in per) < 3 * target
    # content-addressed: a reshuffled input produces identical shards
    p2 = str(tmp_path / "shards2")
    write_training_shards(d.repartition(7), p2, tokens_per_shard=target)
    a = {(r.doc_id, r.shard_id) for r in out.select("doc_id", "shard_id").collect()}
    b = {
        (r.doc_id, r.shard_id)
        for r in spark.read.parquet(p2).select("doc_id", "shard_id").collect()
    }
    assert a == b


def test_compact_parquet_dir_shrinks_files_preserves_rows(spark, tmp_path):
    from taipei_bi_etl_spark.io import compact_parquet_dir, read_table
    from tests.conftest import SF_DIR

    p = str(tmp_path / "frag")
    ev = read_table(spark, SF_DIR, "events")
    ev.repartition(64).write.parquet(p)
    n_before = len([f for f in __import__("os").listdir(p) if f.endswith(".parquet")])
    assert n_before >= 64
    compact_parquet_dir(spark, p, target_mb=128)
    n_after = len([f for f in __import__("os").listdir(p) if f.endswith(".parquet")])
    assert n_after < n_before
    assert spark.read.parquet(p).count() == ev.count()


def test_upsert_partitioned_merges_and_is_idempotent(spark, tmp_path):
    from taipei_bi_etl_spark.io import upsert_partitioned

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10, "2024-01-01"), (2, "b", 10, "2024-01-01"),
         (3, "c", 10, "2024-01-02")],
        "k int, v string, ver int, utc_date string",
    )
    upsert_partitioned(spark, base, path, keys=["k"], order_col="ver")
    # update k=2, insert k=4, leave the 01-02 partition untouched
    batch = spark.createDataFrame(
        [(2, "B", 20, "2024-01-01"), (4, "d", 5, "2024-01-01")],
        "k int, v string, ver int, utc_date string",
    )
    upsert_partitioned(spark, batch, path, keys=["k"], order_col="ver")
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 10), 4: ("d", 5)}
    # replay the same batch: nothing changes (idempotent merge)
    upsert_partitioned(spark, batch, path, keys=["k"], order_col="ver")
    again = {r.k: (r.v, r.ver) for r in spark.read.parquet(path).collect()}
    assert again == got
    # stale version must NOT clobber a newer row
    stale = spark.createDataFrame(
        [(2, "old", 1, "2024-01-01")], "k int, v string, ver int, utc_date string"
    )
    upsert_partitioned(spark, stale, path, keys=["k"], order_col="ver")
    assert {r.k: (r.v, r.ver) for r in spark.read.parquet(path).collect()} == got


def test_read_json_quarantine_splits_good_and_bad(spark, tmp_path):
    """PERMISSIVE quarantine: malformed lines land in the bad frame
    with their raw text; good rows parse fully; nothing is dropped."""
    from taipei_bi_etl_spark import io as io_mod
    from pyspark.sql import types as T

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "this is not json\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": "NaN-ish", "v": 3}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    good, bad = io_mod.read_json_quarantine(spark, str(p), schema)
    good_rows = {(r.id, r.v) for r in good.collect()}
    bad_rows = [r.raw_record for r in bad.collect()]
    assert (1, "a") in good_rows and (2, "b") in good_rows
    assert any("not json" in b for b in bad_rows)
    assert good.count() + bad.count() == 4


def test_range_clustered_layout_has_disjoint_file_stats(spark, tmp_path):
    """write_range_clustered must produce files whose parquet footer
    min/max ranges on the cluster key are non-overlapping (modulo the
    boundary key that range-partitioning may split), so stats-based
    readers skip whole files for narrow key predicates."""
    import pyarrow.parquet as pq

    from taipei_bi_etl_spark.io import read_table, write_range_clustered
    from tests.conftest import SF_DIR

    # cluster on the BIGINT key: INT96 timestamp columns carry no
    # parquet min/max statistics, so they cannot demonstrate skipping
    li = read_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    out = str(tmp_path / "clustered")
    write_range_clustered(li, out, ["l_orderkey"], n_files=6)

    ranges = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = meta.schema.names.index("l_orderkey")
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    overlaps = sum(1 for a, b in zip(ranges, ranges[1:]) if b[0] < a[1])
    # boundary keys may straddle adjacent files; gross overlap may not
    assert overlaps <= 1, ranges

    # and Spark's reader must answer a narrow range from a subset of
    # the data: the filtered scan reads fewer rows than the table
    lo = ranges[0][1]  # a single boundary key
    narrow = spark.read.parquet(out).filter(F.col("l_orderkey") == lo)
    assert narrow.count() < li.count()


def test_assign_dense_ids_unique_dense_no_shuffle(spark):
    """Dense 0..n-1 ids with no global sort: unique, dense, row count
    preserved, and the physical plan contains no Exchange (the whole
    point — row_number over an empty window would collapse to 1 task)."""
    from taipei_bi_etl_spark.io import assign_dense_ids, read_table
    from tests.conftest import SF_DIR

    d = read_table(spark, SF_DIR, "documents").repartition(7)
    out = assign_dense_ids(d.persist(), "row_id")
    ids = [r.row_id for r in out.select("row_id").collect()]
    n = d.count()
    assert len(ids) == n
    assert sorted(ids) == list(range(n))
    # the assigner's own subtree (above the cached input) must add no
    # Exchange — the test's repartition(7) below the cache is expected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assigner_part = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in assigner_part, plan[:1500]
    assert "MapInPandas" in assigner_part, plan[:1500]


def test_write_audit_publish_promotes_only_on_passing_checks(spark, tmp_path):
    """A failed audit must leave the live table byte-identical; a
    passing audit atomically promotes and keeps the previous version."""
    import pytest as _pytest

    from taipei_bi_etl_spark.io import write_audit_publish

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_audit_publish(v1, path, checks=lambda d: None)
    assert spark.read.parquet(path).count() == 2

    # audit failure: live table untouched, staging cleaned
    v2 = spark.createDataFrame([(3, "c")], "k int, v string")

    def failing(d):
        raise AssertionError("row count too low")

    with _pytest.raises(AssertionError):
        write_audit_publish(v2, path, checks=failing)
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [1, 2]
    assert not os.path.exists(path + ".staging")

    # passing audit: promoted, previous kept
    write_audit_publish(v2, path, checks=lambda d: None)
    assert [r.k for r in spark.read.parquet(path).collect()] == [3]
    assert sorted(
        r.k for r in spark.read.parquet(path + ".prev").collect()
    ) == [1, 2]


def test_save_as_table_catalog_roundtrip(spark, tmp_path):
    """K4/K5's destination-table semantics through the CATALOG path
    (not just file paths): saveAsTable with append + overwrite-partition
    write dispositions, queried back via spark.sql by name."""
    from taipei_bi_etl_spark.io import read_table
    from tests.conftest import SF_DIR

    spark.sql("DROP TABLE IF EXISTS t_roundtrip")
    n = read_table(spark, SF_DIR, "nation")
    n.write.mode("overwrite").saveAsTable("t_roundtrip")
    assert (
        spark.sql("SELECT COUNT(*) AS c FROM t_roundtrip").collect()[0].c
        == n.count()
    )
    # WRITE_APPEND disposition
    n.limit(5).write.mode("append").saveAsTable("t_roundtrip")
    assert (
        spark.sql("SELECT COUNT(*) AS c FROM t_roundtrip").collect()[0].c
        == n.count() + 5
    )
    assert "t_roundtrip" in [t.name for t in spark.catalog.listTables()]
    spark.sql("DROP TABLE t_roundtrip")


def test_zorder_clustered_layout_bounds_both_columns(spark, tmp_path):
    """Z-order + range clustering = multi-column file skipping: files
    clustered on the interleaved key must have SMALL per-file extents
    on BOTH source columns, where a single-column sort leaves the
    second column's per-file extent at ~the full range."""
    import pyarrow.parquet as pq

    from taipei_bi_etl_spark.io import read_table, write_range_clustered
    from taipei_bi_etl_spark.scale import zorder_key
    from tests.conftest import SF_DIR

    # two dimensions of COMPARABLE bit width (z-order degenerates when
    # one dimension has far fewer significant bits — its zero high bits
    # let the wider dimension monopolize the curve's top levels)
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select(
            F.col("l_partkey").alias("x"),
            F.pmod(F.col("l_orderkey"), F.lit(200)).alias("y"),
            "l_quantity",
        )
    )

    def extents(path, col):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = meta.schema.names.index(col)
            mins, maxs = [], []
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            out.append(max(maxs) - min(mins))
        return out

    zpath = str(tmp_path / "z")
    z = li.withColumn("zk", zorder_key(["x", "y"], bits=8))
    write_range_clustered(z, zpath, ["zk"], n_files=16)

    lpath = str(tmp_path / "linear")
    write_range_clustered(li, lpath, ["x"], n_files=16)

    g_x = li.agg(F.max("x") - F.min("x")).collect()[0][0]
    g_y = li.agg(F.max("y") - F.min("y")).collect()[0][0]

    z_x = sum(extents(zpath, "x")) / 16 / g_x
    z_y = sum(extents(zpath, "y")) / 16 / g_y
    lin_y = sum(extents(lpath, "y")) / 16 / g_y

    # z-order: both dimensions localized; linear: 2nd dim unbounded
    assert z_x < 0.7, z_x
    assert z_y < 0.7, z_y
    assert lin_y > 0.9, lin_y


def test_jsonl_csv_partitioned_sink_roundtrip(spark, tmp_path):
    """K1 format parity: the reference's sinks were date-partitioned
    jsonl and csv (`tasks/base.py:686-779`) — write both through the
    same idempotent sink and read them back losslessly."""
    df = spark.createDataFrame(
        [("2024-01-01", "US", 3), ("2024-01-01", "ID", 5), ("2024-01-02", "US", 7)],
        "utc_date string, country string, volume int",
    )
    jp = str(tmp_path / "j")
    write_partitioned(df, jp, fmt="json")
    back_j = spark.read.json(jp)
    # partition values read back type-inferred (DATE) — normalize
    assert sorted(
        (str(r.utc_date), r.country, int(r.volume)) for r in back_j.collect()
    ) == sorted(map(tuple, df.collect()))
    # partition dirs exist (one per day) — the reference's file layout
    assert sorted(
        d for d in os.listdir(jp) if d.startswith("utc_date=")
    ) == ["utc_date=2024-01-01", "utc_date=2024-01-02"]

    cp = str(tmp_path / "c")
    write_partitioned(df, cp, fmt="csv")
    back_c = (
        spark.read.schema("country string, volume int")
        .csv(cp)
        .withColumn("utc_date", F.regexp_extract(F.input_file_name(), r"utc_date=([0-9-]+)", 1))
    )
    assert sorted(
        (str(r.utc_date), r.country, r.volume) for r in back_c.collect()
    ) == sorted(map(tuple, df.collect()))


def test_tablesample_repeatable_is_deterministic(spark):
    """TABLESAMPLE ... REPEATABLE(seed): the same seed over the same
    file layout must select the identical row set across runs — the
    contract that makes sampled dev-runs debuggable.  (Cross-engine
    comparison is impossible — RNGs differ — so this pins determinism,
    not values; content-addressed sampling in `corpus_hash_split` is
    the layout-independent alternative.)"""
    from taipei_bi_etl_spark.io import register_views
    from tests.conftest import SF_DIR

    register_views(spark, SF_DIR, ["orders"])
    q = "SELECT o_orderkey FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)"
    a = sorted(r.o_orderkey for r in spark.sql(q).collect())
    b = sorted(r.o_orderkey for r in spark.sql(q).collect())
    assert a == b and len(a) > 0


def test_cached_extract_runs_once_and_self_heals(spark, tmp_path):
    """K9: extract runs on miss, later calls are cache hits (the
    extract fn is NOT re-invoked), dated entries are independent, and
    an unreadable partial write re-extracts."""
    import os

    from taipei_bi_etl_spark.io import cached_extract

    calls = {"n": 0}

    def extract():
        calls["n"] += 1
        return spark.range(5).withColumnRenamed("id", "v")

    base = str(tmp_path / "raw_cache")
    a = cached_extract(spark, base, extract, date="2024-01-01")
    assert a.count() == 5 and calls["n"] == 1
    b = cached_extract(spark, base, extract, date="2024-01-01")
    assert b.count() == 5 and calls["n"] == 1  # hit: not re-invoked
    c = cached_extract(spark, base, extract, date="2024-01-02")
    assert c.count() == 5 and calls["n"] == 2  # new date: miss
    # simulate a crashed write: empty unreadable dir → self-heal
    broken = os.path.join(base, "date=2024-01-03")
    os.makedirs(broken)
    d = cached_extract(spark, base, extract, date="2024-01-03")
    assert d.count() == 5 and calls["n"] == 3


def test_cached_extract_rejects_remote_schemes(spark):
    """r03 ADVICE #4: a hadoop-scheme cache_path would silently write a
    literal local directory — reject it up front."""
    import pytest

    from taipei_bi_etl_spark.io import cached_extract

    for bad in ("s3://bucket/cache", "hdfs://nn/cache", "gs://b/c",
                "file:///tmp/cache"):
        with pytest.raises(ValueError, match="bare local filesystem"):
            cached_extract(spark, bad, lambda: None)


def test_content_key_sees_inplace_partfile_rewrite(tmp_path):
    """r05 ADVICE #3: rewriting a file INSIDE a directory does not
    change the directory's own stat, so a (dir mtime, dir size) memo
    key served a stale digest within a process.  The memo must key on
    the contained files' stats."""
    import os
    import time

    from taipei_bi_etl_spark.io import content_key

    d = tmp_path / "table"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"AAAA")
    dir_stat_before = os.stat(d)
    k1 = content_key(str(d))
    assert content_key(str(d)) == k1  # memo hit, same content
    # rewrite the part IN PLACE, same size, directory stat preserved
    time.sleep(0.01)
    part.write_bytes(b"BBBB")
    os.utime(d, (dir_stat_before.st_atime, dir_stat_before.st_mtime))
    k2 = content_key(str(d))
    assert k2 != k1
    # file-path branch still memoizes on (path, mtime, size)
    f = tmp_path / "single.parquet"
    f.write_bytes(b"CCCC")
    assert content_key(str(f)) == content_key(str(f))


def test_content_key_memo_bounded_per_path(tmp_path):
    """r06 ADVICE #3: repeated rewrites of the same path must REPLACE
    the memo entry, not accumulate one dead key tuple per rebuild —
    long-lived sessions rebuilding fixtures stay O(paths)."""
    import time

    from taipei_bi_etl_spark import io as tio

    d = tmp_path / "table"
    d.mkdir()
    part = d / "part-00000.parquet"
    before = len(tio._CONTENT_KEYS)
    digests = set()
    for i in range(5):
        part.write_bytes(f"content-{i}".encode())
        time.sleep(0.01)
        digests.add(tio.content_key(str(d)))
    assert len(digests) == 5  # every rewrite re-hashed
    assert len(tio._CONTENT_KEYS) == before + 1  # one live entry


def test_publish_fixture_atomicity(tmp_path):
    """r06: the shared fixture-publish helper — a build that CRASHES
    must leave no partial `out` (next caller rebuilds), a lost publish
    race must return the winner's directory, and the build temp dir is
    always cleaned up."""
    import glob
    import os
    import tempfile
    import uuid

    import pytest

    from taipei_bi_etl_spark.io import publish_fixture

    # UNIQUE basename: build dirs land in the SHARED system tmp
    # prefixed by the fixture basename, so the cleanup assertion must
    # glob a name no other run can create (r06 review: a global
    # 'fx_build_*' glob could flag another worker's leftovers)
    base = f"fxtest_{uuid.uuid4().hex[:12]}"
    out = str(tmp_path / base)

    def crashing(data):
        os.makedirs(data)
        raise RuntimeError("builder died")

    with pytest.raises(RuntimeError, match="builder died"):
        publish_fixture(out, crashing)
    assert not os.path.isdir(out)  # nothing published
    assert not glob.glob(
        os.path.join(tempfile.gettempdir(), f"{base}_build_*")
    )  # build temp cleaned up

    calls = {"n": 0}

    def good(data):
        calls["n"] += 1
        os.makedirs(data)
        with open(os.path.join(data, "f.txt"), "w") as f:
            f.write("v1")

    assert publish_fixture(out, good) == out
    assert calls["n"] == 1
    # second call: cache hit, no rebuild
    assert publish_fixture(out, good) == out
    assert calls["n"] == 1

    # lost race: out appears between the isdir check and the rename —
    # simulate by a builder that publishes `out` itself mid-build
    out2 = str(tmp_path / "fx2")

    def racing(data):
        os.makedirs(data)
        os.makedirs(out2)  # the "other process" wins while we build
        with open(os.path.join(out2, "winner.txt"), "w") as f:
            f.write("winner")

    assert publish_fixture(out2, racing) == out2
    assert os.path.exists(os.path.join(out2, "winner.txt"))
