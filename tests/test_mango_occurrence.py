"""Row-exactness of the one-pass occurrence and attribution helpers
(plans/mango_dag.py) against the reference SQL shapes they replace,
kept here as the reference: the three-COUNT-DISTINCT DAU ⟕ WAU ⟕ MAU
join of sql/mango_active_user_count.sql, the two-arm UNION ALL of
sql/mango_cohort_user_occurrence.sql and the 5-arm alt-key UNION ALL
of sql/mango_user_channels.sql.  Small hand-built frames carry
the edge cases; results compare as multisets with equal dtypes."""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taipei_bi_etl_spark.plans.mango_dag import (
    active_user_count_from,
    cohort_user_occurrence_from,
    user_channels_from,
)

AS_OF = "2024-02-01"
KEYS = ["os", "country", "measure_type", "cohort_level", "cohort_name"]
OCC_SCHEMA = (
    "os string, country string, measure_type string, cohort_level string, "
    "cohort_name string, client_id string, cohort_date date, "
    "occur_date date, occur_day int, occur_week int, occur_month int"
)


def _assert_same_rows(got: DataFrame, want: DataFrame) -> None:
    assert got.dtypes == want.dtypes
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _occ_rows(rows):
    """(os, country, measure, level, name, client, cohort_date,
    days_ago) → occurrence rows on AS_OF - days_ago."""
    as_of = datetime.date.fromisoformat(AS_OF)
    out = []
    for os_, country, measure, level, name, client, cohort, ago in rows:
        occur = as_of - datetime.timedelta(days=ago)
        cohort_d = datetime.date.fromisoformat(cohort)
        day = (occur - cohort_d).days
        out.append(
            (os_, country, measure, level, name, client, cohort_d, occur,
             day, day // 7, day // 28)
        )
    return out


def _reference_active_users(occ: DataFrame, date: str) -> DataFrame:
    """The three COUNT DISTINCT frames joined on the cohort keys."""
    as_of = F.lit(date).cast("date")
    occ = occ.filter(
        (F.col("occur_date") >= F.date_sub(as_of, 27))
        & (F.col("occur_date") <= as_of)
    ).withColumn(
        "new_client_id", F.when(F.col("occur_day") == 0, F.col("client_id"))
    )

    def counts(suffix):
        return (
            F.countDistinct("new_client_id").alias(f"new_{suffix}"),
            F.countDistinct("client_id").alias(suffix),
        )

    dau = (
        occ.filter(F.col("occur_date") == as_of)
        .groupBy(*KEYS, "occur_date")
        .agg(*counts("dau"))
    )
    wau = (
        occ.filter(F.col("occur_date") >= F.date_sub(as_of, 6))
        .groupBy(*KEYS)
        .agg(*counts("wau"))
    )
    mau = occ.groupBy(*KEYS).agg(*counts("mau"))
    return (
        dau.join(wau, KEYS, "left")
        .join(mau, KEYS, "left")
        .withColumn("day", F.col("occur_date"))
    )


def test_active_user_count_matches_three_count_distinct_join(spark):
    ios = ("iOS", "TW", "feature", "App", "Zerda")
    rows = [
        # duplicate occurrence rows for one client, today
        (*ios, "a", "2024-02-01", 0),
        (*ios, "a", "2024-02-01", 0),
        # new only outside the week: counts in new_mau, not new_wau
        (*ios, "b", "2024-01-20", 12),
        (*ios, "b", "2024-01-20", 0),
        # active only 8-27 days ago: MAU only
        (*ios, "c", "2024-01-05", 8),
        (*ios, "c", "2024-01-05", 27),
        # outside the 28-day window: ignored
        (*ios, "d", "2023-12-01", 28),
        # new this week, not today
        (*ios, "e", "2024-01-29", 3),
        (*ios, "e", "2024-01-29", 0),
        # NULL client: skipped by every count, cohort still active
        (*ios, None, "2024-01-10", 0),
        # NULL cohort_name key: NULL wau/mau (the join misses)
        ("iOS", "TW", "channel", "Network", None, "a", "2024-02-01", 0),
        ("iOS", "TW", "channel", "Network", None, "f", "2024-01-25", 2),
        # cohort not active today: dropped
        ("Android", "JP", "feature", "App", "Zerda", "g", "2024-01-30", 1),
        # cohort active today only through a NULL client: dau 0
        ("Android", "TW", "feature", "App", "Zerda", None, "2024-01-31", 0),
    ]
    occ = spark.createDataFrame(_occ_rows(rows), OCC_SCHEMA)
    got = active_user_count_from(occ, AS_OF)
    want = _reference_active_users(occ, AS_OF)
    assert got.columns == want.columns
    assert not got.schema["dau"].nullable
    assert not got.schema["new_dau"].nullable
    _assert_same_rows(got, want)
    assert got.count() == 3


def _reference_couo(ufo: DataFrame, uc: DataFrame) -> DataFrame:
    """Channel arm (App rows ⟕ user_channels) UNION ALL feature arm."""
    cols = [
        "os", "country", "measure_type", "cohort_level", "cohort_name",
        "client_id", "cohort_date", "occur_date",
        "occur_day", "occur_week", "occur_month",
    ]
    chan = (
        ufo.filter(F.col("cohort_level") == "App")
        .join(uc.select("client_id", "network_name"), "client_id", "left")
        .select(
            "os", "country",
            F.lit("channel").alias("measure_type"),
            F.lit("Network").alias("cohort_level"),
            F.col("network_name").alias("cohort_name"),
            *cols[5:],
        )
    )
    return chan.unionByName(ufo.select(*cols))


def test_cohort_user_occurrence_matches_two_arm_union(spark):
    rows = [
        # client with two uc rows (a RANK()=1 tie): two channel rows
        ("iOS", "TW", "feature", "App", "Zerda", "a", "2024-01-01", 3),
        ("iOS", "TW", "feature", "feature: search", "search", "a",
         "2024-01-01", 3),
        # client missing from uc: one NULL-named channel row
        ("iOS", "TW", "feature", "App", "Zerda", "b", "2024-01-02", 0),
        # client whose uc network_name is NULL
        ("Android", "JP", "feature", "App", "Zerda", "c", "2024-01-03", 1),
        ("Android", "JP", "feature", "App", "Zerda", "c", "2024-01-03", 0),
        # NULL client_id on an App row: join miss
        ("Android", "JP", "feature", "App", "Zerda", None, "2024-01-03", 1),
        # NULL cohort_level: feature arm only
        ("Android", "JP", "feature", None, "x", "a", "2024-01-03", 1),
    ]
    ufo = spark.createDataFrame(_occ_rows(rows), OCC_SCHEMA)
    uc = spark.createDataFrame(
        [("a", "fb", 1), ("a", "google", 2), ("c", None, 3), ("z", "fb", 4)],
        "client_id string, network_name string, extra int",
    )
    got = cohort_user_occurrence_from(ufo, uc)
    want = _reference_couo(ufo, uc)
    assert got.columns == want.columns
    _assert_same_rows(got, want)
    assert got.filter(F.col("measure_type") == "channel").count() == 6


CHAN_COLS = [
    "network_name", "network_token", "campaign_name", "campaign_token",
    "adgroup_name", "adgroup_token", "creative_name", "creative_token",
]


def _reference_user_channels(settings: DataFrame, channels: DataFrame) -> DataFrame:
    """One broadcast join per alt token UNION ALL the NULL-token arm,
    then the IFNULL defaults and the RANK()=1 dedup."""
    from pyspark.sql import Window

    cols = ["client_id", "tracker_token", "install_referrer"]
    arms = [
        settings.join(channels, settings["tracker_token"] == channels[alt])
        .select(*cols, *CHAN_COLS, "execution_date")
        for alt in (
            "network_token", "campaign_token", "adgroup_token",
            "creative_token",
        )
    ]
    arms.append(
        settings.filter(F.col("tracker_token").isNull()).select(
            *cols,
            *[F.lit(None).cast("string").alias(c) for c in CHAN_COLS],
            "execution_date",
        )
    )
    unioned = arms[0]
    for a in arms[1:]:
        unioned = unioned.unionByName(a)
    defaults = unioned.select(
        *cols,
        *[
            F.coalesce(c, F.lit("unknown" if c.endswith("_name") else "0"))
            .alias(c)
            for c in CHAN_COLS
        ],
        "execution_date",
    )
    w = Window.partitionBy("client_id").orderBy(F.col("creative_token").asc())
    return (
        defaults.withColumn("r", F.rank().over(w))
        .filter(F.col("r") == 1)
        .drop("r")
        .withColumn("day", F.col("execution_date"))
    )


def test_user_channels_matches_five_arm_union(spark):
    d = datetime.date.fromisoformat(AS_OF)
    settings = spark.createDataFrame(
        [
            (1, "nt1", "ref-1", d),  # network-level token
            (2, "crt2", "ref-2", d),  # creative-level token
            (3, "shared", "ref-3", d),  # matches two alt levels
            (4, "dup", "ref-0", d),  # two identical dim rows: a RANK tie
            (5, None, "ref-1", d),  # NULL token: the NULL arm
            (6, "zzz-unmatched", "ref-2", d),  # no arm matches: dropped
            (None, "at1", None, d),  # NULL client
        ],
        "client_id bigint, tracker_token string, install_referrer string, "
        "execution_date date",
    )
    channels = spark.createDataFrame(
        [
            ("net1", "nt1", "camp1", "ct1", "adg1", "at1", "cre1", "crt1"),
            ("net2", "nt2", "camp2", "ct2", "adg2", "at2", "cre2", "crt2"),
            ("net3", "shared", "camp3", "ct3", "adg3", "at3", "cre3", "c9"),
            ("net4", "nt4", "camp4", "shared", "adg4", "at4", "cre4", "c1"),
            ("net5", "nt5", "camp5", "ct5", "adg5", "dup", "cre5", "crt5"),
            ("net5", "nt5", "camp5", "ct5", "adg5", "dup", "cre5", "crt5"),
            (None, None, None, None, None, None, None, None),
        ],
        ", ".join(f"{c} string" for c in CHAN_COLS),
    )
    got = user_channels_from(settings, channels)
    want = _reference_user_channels(settings, channels)
    assert got.columns == want.columns
    _assert_same_rows(got, want)
    assert sorted(
        (r.client_id, r.network_name) for r in got.collect()
        if r.client_id is not None
    ) == [
        (1, "net1"), (2, "net2"), (3, "net4"), (4, "net5"), (4, "net5"),
        (5, "unknown"),
    ]
