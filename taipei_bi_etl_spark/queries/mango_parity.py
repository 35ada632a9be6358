"""Driver-facing parity queries for the full 18-task mango DAG
(plans/mango_dag.py): each new pipeline node's SHAPE as a one-shot
query with a DuckDB oracle twin, so the driver hash-checks the exact
semantics the DAG materializes (the DAG's write/cleanup mechanics are
gated separately in tests/test_mango_full_dag.py).

The oracle side re-derives the synthesized telemetry surface in closed
form — every field of ``synthesize_full_pings`` / ``map_features_full``
is deterministic digit-stride modular arithmetic over event_id/user_id
(plans/telemetry_pipeline.py), and the D4 rule cascade compiles itself
to DuckDB SQL (`feature_mapping.feature_mapping_sql`), so the WHOLE
chain — JSON ping parse, D2 cleanup (url_counts+1 workaround), kv
session metrics, outer-lateral extras, 150-rule cascade, 3-way fan-out
— is hash-verified cross-engine, then each downstream table shape on
top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taipei_bi_etl_spark.io import read_table
from taipei_bi_etl_spark.queries import query


def _lst(vocab) -> str:
    return "[" + ", ".join("'" + x + "'" for x in vocab) + "]"


def _full_fm_cte() -> str:
    """DuckDB WITH-chain ending in ``fanned`` — the full
    mango_events_feature_mapping surface (one row per (event, extra,
    fan-arm)) mirroring plans/telemetry_pipeline.py exactly."""
    from taipei_bi_etl_spark.feature_mapping import feature_mapping_sql
    from taipei_bi_etl_spark.plans import telemetry_pipeline as tp

    fm = feature_mapping_sql()
    lists = ", ".join(f"{sql} AS l_{name.lower()}" for name, sql in fm.items())
    nonempty = {name: f"len(l_{name.lower()}) > 0" for name in fm}
    cascade = " ".join(
        f"WHEN {c} THEN l_{n.lower()}" for n, c in nonempty.items()
    )
    vert_case = " ".join(f"WHEN {c} THEN '{n}'" for n, c in nonempty.items())
    any_match = " OR ".join(nonempty.values())
    carried = (
        "client_id, submission_date, os, country, event_timestamp, "
        "event_method, event_object, event_value, extra_key, extra_value, "
        "event_vertical, session_time, url_counts, app_link_install, "
        "app_link_open, show_keyboard"
    )
    return f"""
base AS (
  SELECT user_id AS client_id,
         CAST(ts AS DATE) AS submission_date,
         ({_lst(tp._OSES)})[(user_id % {len(tp._OSES)}) + 1] AS os,
         ({_lst(tp._COUNTRIES)})[(user_id % {len(tp._COUNTRIES)}) + 1]
           AS country,
         epoch_ms(ts) AS event_timestamp,
         ({_lst(tp._METHODS_FULL)})[((event_id + 1) % 8) + 1] AS event_method,
         ({_lst(tp._OBJECTS_FULL)})[((event_id // 8 + 3) % 8) + 1]
           AS event_object,
         ({_lst(tp._VALUES)})[((event_id // 64 + 5) % 8) + 1] AS event_value,
         ({_lst(tp._VERTICALS)})[((event_id // 5 + 7) % 6) + 1]
           AS event_vertical,
         ({_lst(tp._SOURCES)})[((event_id // 7 + 11) % 4) + 1] AS src,
         'google' AS settings_search_engine,
         CASE WHEN event_id % 3 = 0 THEN (event_id * 37) % 200000 END
           AS session_time,
         CASE WHEN event_id % 3 = 0 THEN (event_id % 7) + 1 END
           AS url_counts,  -- +1: the D2 cleanup_extra bug workaround
         CASE WHEN event_id % 11 = 0 THEN 1 END AS app_link_install,
         CASE WHEN event_id % 11 = 1 THEN 1 END AS app_link_open,
         CASE WHEN event_id % 13 = 0 THEN 1 END AS show_keyboard,
         event_id
  FROM events
), extra_rows AS (
  SELECT *, 'vertical' AS extra_key, event_vertical AS extra_value FROM base
  UNION ALL
  SELECT *, 'source', src FROM base
  UNION ALL
  SELECT *, 'session_time', CAST((event_id * 37) % 200000 AS VARCHAR)
  FROM base WHERE event_id % 3 = 0
  UNION ALL
  SELECT *, 'url_counts', CAST((event_id % 7) + 1 AS VARCHAR)
  FROM base WHERE event_id % 3 = 0
  UNION ALL
  SELECT *, 'app_link', 'install' FROM base WHERE event_id % 11 = 0
  UNION ALL
  SELECT *, 'app_link', 'open' FROM base WHERE event_id % 11 = 1
  UNION ALL
  SELECT *, 'show_keyboard', 'true' FROM base WHERE event_id % 13 = 0
), listed AS (
  SELECT *, {lists} FROM extra_rows
), mapped AS (
  SELECT {carried},
         CASE {cascade} ELSE ['feature: others'] END AS features,
         CASE {vert_case} ELSE 'Others' END AS vertical,
         CASE WHEN {any_match} THEN 'App' ELSE 'Others' END AS app
  FROM listed
), fanned AS (
  SELECT {carried}, 'Feature' AS feature_type,
         UNNEST(features) AS feature_name
  FROM mapped
  UNION ALL
  SELECT {carried}, 'Vertical', vertical FROM mapped
  UNION ALL
  SELECT {carried}, 'App', app FROM mapped
)"""


#: Compiled-PLAN memo for the shared mango chain frames (feature-mapping
#: surface, user_channels, occurrence grid, rfe_28d): rebuilding them
#: cost 3–5 s of py4j round trips + catalyst re-analysis per deep
#: snapshot.  A memoized frame is an immutable plan tree (no data, no
#: result rows): every action still plans and executes from the parquet
#: inputs, and Spark's plan-keyed cache treats it exactly as a fresh
#: construction.  This is the one memo that is a module table rather
#: than a ``functools.cache`` builder, because a DataFrame belongs to
#: its session: the key carries the ``applicationId`` so a new session
#: (or data directory) builds fresh.  The Column builders elsewhere
#: cache unresolved expression trees, which no session owns, so their
#: keys carry no session.  The persisted variant re-registers its
#: persist() per invocation when the registry release contract
#: (queries/__init__) has unpersisted it.
_FRAME_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _frame_memo(
    spark: SparkSession, sf_dir: str, tag: str, build
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    df = _FRAME_MEMO.get(key)
    if df is None:
        df = build()
        _FRAME_MEMO[key] = df
    return df


def _spark_fm(
    spark: SparkSession, sf_dir: str, persisted: bool = False
) -> DataFrame:
    """The full feature-mapping chain.  ``persisted=True`` caches the
    mapped frame (MEMORY_AND_DISK): the D4 cascade is the chain's cost
    center (SCALE.md), and the deep snapshots otherwise re-evaluate it
    up to 6× — once per downstream consumer subtree."""

    def build() -> DataFrame:
        from taipei_bi_etl_spark.plans.telemetry_pipeline import (
            map_features_full,
            synthesize_full_pings,
            unnest_events_full,
        )

        return map_features_full(
            unnest_events_full(synthesize_full_pings(spark, sf_dir))
        )

    fm = _frame_memo(spark, sf_dir, "fm", build)
    if persisted:
        sl = fm.storageLevel  # JVM CacheManager truth — NOT the
        # client-side is_cached flag, which persist()/unpersist() set
        # locally and clearCache()/release_tracked() never see
        if not (sl.useMemory or sl.useDisk):
            # re-register per invocation: the registry release contract
            # unpersists the PREVIOUS query's tracked frames on each
            # call, and this persist must go through that same tracking
            from pyspark import StorageLevel

            fm = fm.persist(StorageLevel.MEMORY_AND_DISK)
    return fm


def _spark_uc(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        from taipei_bi_etl_spark.plans.mango_dag import (
            tracker_settings,
            user_channels_from,
        )
        from taipei_bi_etl_spark.plans.telemetry_pipeline import (
            channel_mapping_table,
            synthesize_full_pings,
        )

        pings = synthesize_full_pings(spark, sf_dir).withColumn(
            "day", F.col("submission_date")
        )
        return user_channels_from(
            tracker_settings(pings, AS_OF, lo_date="1970-01-01"),
            channel_mapping_table(spark),
        )

    return _frame_memo(spark, sf_dir, "uc", build)


# ---------------------------------------------------------------------------
# mango_events_feature_mapping — the full-surface chain, rolled up.
# ---------------------------------------------------------------------------

_SURFACE_ORACLE = f"""
WITH {_full_fm_cte()}
SELECT submission_date, feature_type, feature_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT client_id) AS BIGINT) AS n_clients,
       CAST(COALESCE(SUM(session_time), -1) AS BIGINT) AS sum_session_time,
       CAST(COALESCE(SUM(url_counts), -1) AS BIGINT) AS sum_url_counts,
       CAST(COALESCE(SUM(app_link_install), -1) AS BIGINT)
         AS sum_app_link_install,
       CAST(COALESCE(SUM(app_link_open), -1) AS BIGINT) AS sum_app_link_open,
       CAST(COALESCE(SUM(show_keyboard), -1) AS BIGINT) AS sum_show_keyboard
FROM fanned
GROUP BY 1, 2, 3
"""


@query(
    "mango_feature_surface_rollup",
    oracle=_SURFACE_ORACLE,
    tags=("mango", "D1", "D2", "D4", "U1", "A6"),
)
def mango_feature_surface_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full mango_events_feature_mapping column surface
    (sql/mango_events_feature_mapping.sql:1-106) hash-checked end to
    end: ping parse → D2 cleanup (incl. the url_counts+1 workaround) →
    kv session metrics → outer-lateral extras → D4 cascade → 3-way
    fan-out, rolled up per (day, feature).  This is the load-bearing
    correctness gate for the whole DAG: every downstream cohort / RFE /
    retention table consumes exactly these rows.

    Scale: the chain is map-side until this rollup's single hash
    aggregate; the fan-out explode multiplies rows before the shuffle
    but the partial aggregate collapses them map-side."""
    fm = _spark_fm(spark, sf_dir)
    return fm.groupBy("submission_date", "feature_type", "feature_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("client_id").alias("n_clients"),
        *[
            F.coalesce(F.sum(c), F.lit(-1))
            .cast("long")
            .alias(f"sum_{c}")
            for c in (
                "session_time", "url_counts", "app_link_install",
                "app_link_open", "show_keyboard",
            )
        ],
    )


# ---------------------------------------------------------------------------
# mango_user_channels — the 5-arm attribution union, snapshot form.
# ---------------------------------------------------------------------------

AS_OF = "2024-01-30"


def _channel_dim_values() -> str:
    rows = []
    for i in range(1, 9):
        rows.append(
            f"('net{i % 4}', 'nt{i}', 'camp{i % 3}', 'ct{i}', "
            f"'adg{i % 2}', 'at{i}', 'cre{i}', 'crt{i}')"
        )
    return ",\n    ".join(rows)


def _user_channels_cte() -> str:
    """CTE fragment ending in ``uc_final`` — the attribution snapshot
    (settings kv extract → 5-arm union → defaults → RANK()=1)."""
    from taipei_bi_etl_spark.plans import telemetry_pipeline as tp

    toks = ", ".join(
        "NULL" if t is None else f"'{t}'" for t in tp._TRACKER_TOKENS
    )
    arm_cols = """settings.client_id, settings.tracker_token,
           settings.install_referrer,
           ch.network_name, ch.network_token, ch.campaign_name,
           ch.campaign_token, ch.adgroup_name, ch.adgroup_token,
           ch.creative_name, ch.creative_token, settings.execution_date"""
    arms = "\n  UNION ALL\n".join(
        f"""  SELECT {arm_cols}
  FROM settings JOIN channels ch ON settings.tracker_token = ch.{alt}"""
        for alt in (
            "network_token", "campaign_token", "adgroup_token",
            "creative_token",
        )
    )
    return f"""
channels(network_name, network_token, campaign_name, campaign_token,
              adgroup_name, adgroup_token, creative_name, creative_token)
AS (
  VALUES
    {_channel_dim_values()}
),
settings AS (
  SELECT user_id AS client_id,
         ([{toks}])[(user_id % 6) + 1] AS tracker_token,
         'ref-' || CAST(user_id % 4 AS VARCHAR) AS install_referrer,
         MAX(CAST(ts AS DATE)) AS execution_date
  FROM events
  WHERE CAST(ts AS DATE) <= DATE '{AS_OF}'
  GROUP BY 1, 2, 3
),
unioned AS (
{arms}
  UNION ALL
  SELECT client_id, tracker_token, install_referrer,
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, execution_date
  FROM settings WHERE tracker_token IS NULL
),
defaults AS (
  SELECT client_id, tracker_token, install_referrer,
         COALESCE(network_name, 'unknown') AS network_name,
         COALESCE(network_token, '0') AS network_token,
         COALESCE(campaign_name, 'unknown') AS campaign_name,
         COALESCE(campaign_token, '0') AS campaign_token,
         COALESCE(adgroup_name, 'unknown') AS adgroup_name,
         COALESCE(adgroup_token, '0') AS adgroup_token,
         COALESCE(creative_name, 'unknown') AS creative_name,
         COALESCE(creative_token, '0') AS creative_token,
         execution_date
  FROM unioned
),
uc_final AS (
  SELECT * FROM defaults
  QUALIFY RANK() OVER (PARTITION BY client_id ORDER BY creative_token ASC) = 1
)"""


def _user_channels_oracle() -> str:
    return f"WITH {_user_channels_cte()}\nSELECT * FROM uc_final"


@query(
    "mango_user_channels_snapshot",
    oracle=_user_channels_oracle(),
    tags=("mango", "J1", "U2", "W1"),
)
def mango_user_channels_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_user_channels as a one-shot snapshot
    (init_mango_user_channels.sql semantics, as-of {AS_OF}): per-client
    tracker settings (kv MAX over the settings array) → 5-arm alt-key
    union against the broadcast tracker dim → IFNULL defaults →
    RANK()=1 creative-token dedup, preserving the reference's
    keep-ties RANK (not ROW_NUMBER) semantics.

    Scale: the arms are one broadcast join against the dim keyed per
    alt token (tokens are disjoint across levels so each settings row
    matches ≤1 arm); the only shuffle is the per-client window."""
    from taipei_bi_etl_spark.plans.mango_dag import (
        tracker_settings,
        user_channels_from,
    )
    from taipei_bi_etl_spark.plans.telemetry_pipeline import (
        channel_mapping_table,
        synthesize_full_pings,
    )

    pings = synthesize_full_pings(spark, sf_dir).withColumn(
        "day", F.col("submission_date")
    )
    settings = tracker_settings(pings, AS_OF, lo_date="1970-01-01")
    return user_channels_from(
        settings, channel_mapping_table(spark)
    ).drop("day")


# ---------------------------------------------------------------------------
# mango_revenue_google — searches explode + outlier cap + rate join.
# ---------------------------------------------------------------------------


def _revenue_oracle() -> str:
    from taipei_bi_etl_spark.plans import telemetry_pipeline as tp

    rates = ",\n    ".join(
        f"('{c}', {round(0.001 * (i + 1), 6)})"
        for i, c in enumerate(tp._COUNTRIES)
    )
    return f"""
WITH rps(country, rps) AS (
  VALUES
    {rates}
),
core AS (
  SELECT user_id AS client_id,
         CAST(ts AS DATE) AS submission_date,
         CASE WHEN event_id % 41 = 0 THEN 'OtherApp' ELSE 'Zerda' END
           AS app_name,
         ({_lst(tp._OSES)})[(user_id % {len(tp._OSES)}) + 1] AS os,
         CASE WHEN event_id % 29 = 0 THEN '??'
              ELSE ({_lst(tp._COUNTRIES)})[(user_id % {len(tp._COUNTRIES)}) + 1]
         END AS geo_country,
         ({_lst(tp._ENTRYPOINTS)})[(event_id % {len(tp._ENTRYPOINTS)}) + 1]
           AS entrypoint,
         CASE WHEN event_id % 97 = 0 THEN 20000
              ELSE (event_id * 13) % 50 + 1 END AS volume
  FROM events
),
vol AS (
  SELECT submission_date AS utc_date, geo_country AS country, entrypoint,
         SUM(volume) AS volume
  FROM core
  WHERE app_name = 'Zerda' AND os = 'Android'
    AND volume < 10000 AND entrypoint LIKE '%google%'
  GROUP BY 1, 2, 3
)
SELECT 'estimated' AS conversion_status,
       'Android' AS os,
       vol.country,
       utc_date,
       '+00:00' AS tz,
       'google' AS source,
       CAST(volume AS DOUBLE) AS sales_amount,
       ROUND(volume * CAST(rps.rps AS DOUBLE), 6) AS payout,
       'USD' AS currency,
       entrypoint AS fx_defined1
FROM vol
LEFT JOIN rps ON vol.country = rps.country
"""


@query(
    "mango_revenue_google_estimate",
    oracle=_revenue_oracle(),
    tags=("mango", "J7", "J9", "P9"),
)
def mango_revenue_google_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_revenue_google (sql/mango_revenue_google.sql:1-43) over
    the whole core stream: searches-map explode (J7), the <10000
    outlier cap (P9), the %google% entrypoint filter (P5), and the
    broadcast rate join (J9) producing estimated revenue rows.

    Scale: explode fans each ping to |searches| rows map-side; the
    rollup is one hash aggregate on (date, country, entrypoint) —
    bounded keys — and the rate dim broadcasts."""
    from taipei_bi_etl_spark.plans.telemetry_pipeline import (
        google_rps_table,
        synthesize_core_pings,
    )

    core = synthesize_core_pings(spark, sf_dir)
    vol = (
        core.filter((F.col("app_name") == "Zerda") & (F.col("os") == "Android"))
        .select(
            F.col("submission_date").alias("utc_date"),
            F.col("geo_country").alias("country"),
            F.explode("searches").alias("entrypoint", "v"),
        )
        .filter((F.col("v") < 10000) & F.col("entrypoint").like("%google%"))
        .groupBy("utc_date", "country", "entrypoint")
        .agg(F.sum("v").alias("volume"))
    )
    rps = google_rps_table(spark)
    # bounded: per-country rates
    return vol.join(F.broadcast(rps), "country", "left").select(
        F.lit("estimated").alias("conversion_status"),
        F.lit("Android").alias("os"),
        "country",
        "utc_date",
        F.lit("+00:00").alias("tz"),
        F.lit("google").alias("source"),
        F.col("volume").cast("double").alias("sales_amount"),
        F.round(F.col("volume") * F.col("rps"), 6).alias("payout"),
        F.lit("USD").alias("currency"),
        F.col("entrypoint").alias("fx_defined1"),
    )


# ---------------------------------------------------------------------------
# Occurrence chain — cohorts → occurrence grid → active users / retention.
# ---------------------------------------------------------------------------

_OCCURRENCE_CTE_TEMPLATE = """
days AS (
  SELECT DISTINCT client_id, os, country, feature_type, feature_name,
         submission_date
  FROM fanned
  WHERE feature_name NOT IN ('Others', 'feature: others')
), cohort AS (
  SELECT client_id, os, country, feature_type, feature_name,
         MIN(submission_date) AS cohort_date
  FROM days GROUP BY 1, 2, 3, 4, 5
), occ AS (
  SELECT 'feature' AS measure_type,
         d.feature_type AS cohort_level,
         d.feature_name AS cohort_name,
         d.os, d.country, d.client_id, c.cohort_date,
         d.submission_date AS occur_date,
         datediff('day', c.cohort_date, d.submission_date) AS occur_day,
         datediff('day', c.cohort_date, d.submission_date) // 7 AS occur_week,
         datediff('day', c.cohort_date, d.submission_date) // 28 AS occur_month
  FROM days d
  JOIN cohort c USING (client_id, os, country, feature_type, feature_name)
), couo AS (
  SELECT o.os, o.country,
         'channel' AS measure_type,
         'Network' AS cohort_level,
         -- unmatched non-NULL tracker tokens drop out of attribution
         -- (reference semantics); coalesce ONLY at this snapshot
         -- presentation layer so the row-hash comparator can sort
         COALESCE(uc.network_name, '(unattributed)') AS cohort_name,
         o.client_id, o.cohort_date, o.occur_date,
         o.occur_day, o.occur_week, o.occur_month
  FROM occ o
  LEFT JOIN uc_final uc ON o.client_id = uc.client_id
  WHERE o.cohort_level = 'App'
  UNION ALL
  SELECT os, country, measure_type, cohort_level, cohort_name,
         client_id, cohort_date, occur_date,
         occur_day, occur_week, occur_month
  FROM occ
)"""


def _occurrence_chain_cte() -> str:
    return f"{_full_fm_cte()},\n{_user_channels_cte()},\n{_OCCURRENCE_CTE_TEMPLATE}"


def _spark_couo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized like _spark_fm."""

    def build() -> DataFrame:
        from taipei_bi_etl_spark.plans.mango_dag import (
            cohort_user_occurrence_from,
            occurrence_from,
        )

        ufo = occurrence_from(_spark_fm(spark, sf_dir))
        return cohort_user_occurrence_from(
            ufo, _spark_uc(spark, sf_dir)
        ).withColumn(
            "cohort_name", F.coalesce("cohort_name", F.lit("(unattributed)"))
        )

    return _frame_memo(spark, sf_dir, "couo", build)


_ACTIVE_USER_ORACLE = f"""
WITH {_occurrence_chain_cte()},
win AS (
  SELECT *,
         CASE WHEN occur_day = 0 THEN client_id END AS new_client_id
  FROM couo
  WHERE occur_date >= DATE '{AS_OF}' - 27 AND occur_date <= DATE '{AS_OF}'
),
dau AS (
  SELECT os, country, measure_type, cohort_level, cohort_name, occur_date,
         CAST(COUNT(DISTINCT new_client_id) AS BIGINT) AS new_dau,
         CAST(COUNT(DISTINCT client_id) AS BIGINT) AS dau
  FROM win WHERE occur_date = DATE '{AS_OF}'
  GROUP BY 1, 2, 3, 4, 5, 6
),
wau AS (
  SELECT os, country, measure_type, cohort_level, cohort_name,
         CAST(COUNT(DISTINCT new_client_id) AS BIGINT) AS new_wau,
         CAST(COUNT(DISTINCT client_id) AS BIGINT) AS wau
  FROM win WHERE occur_date >= DATE '{AS_OF}' - 6
  GROUP BY 1, 2, 3, 4, 5
),
mau AS (
  SELECT os, country, measure_type, cohort_level, cohort_name,
         CAST(COUNT(DISTINCT new_client_id) AS BIGINT) AS new_mau,
         CAST(COUNT(DISTINCT client_id) AS BIGINT) AS mau
  FROM win
  GROUP BY 1, 2, 3, 4, 5
)
SELECT dau.os, dau.country, dau.measure_type, dau.cohort_level,
       dau.cohort_name, dau.occur_date, dau.new_dau, dau.dau,
       COALESCE(wau.new_wau, -1) AS new_wau,
       COALESCE(wau.wau, -1) AS wau,
       COALESCE(mau.new_mau, -1) AS new_mau,
       COALESCE(mau.mau, -1) AS mau
FROM dau
LEFT JOIN wau USING (os, country, measure_type, cohort_level, cohort_name)
LEFT JOIN mau USING (os, country, measure_type, cohort_level, cohort_name)
"""


@query(
    "mango_active_user_snapshot",
    oracle=_ACTIVE_USER_ORACLE,
    tags=("mango", "A3", "A14", "J5"),
)
def mango_active_user_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_active_user_count (sql/mango_active_user_count.sql:1-105)
    as a snapshot: the full occurrence chain (feature-mapping surface →
    full-history cohorts → distinct occurrence grid → channel ∪ feature
    measures) rolled into per-cohort DAU with rolling WAU / MAU and the
    new_* (occur_day=0) variants.

    Scale: the occurrence grid is the one corpus-sized shuffle (distinct
    on the composite key); dau/wau/mau then come from one per-client
    flag aggregate over it, with no multi-distinct Expand."""
    from taipei_bi_etl_spark.plans.mango_dag import active_user_count_from

    couo = _spark_couo(spark, sf_dir)
    au = active_user_count_from(couo, AS_OF).drop("day")
    # -1 sentinels for the NULL-key join misses (NULL cells make the
    # result unsortable for row-hash comparators; both sides identical)
    return au.select(
        "os", "country", "measure_type", "cohort_level", "cohort_name",
        "occur_date",
        *[
            F.coalesce(F.col(c), F.lit(-1)).cast("long").alias(c)
            for c in ("new_dau", "dau", "new_wau", "wau", "new_mau", "mau")
        ],
    )


def _retained_cols_sql() -> str:
    parts = [
        "CAST(COUNT(DISTINCT CASE WHEN occur_day = 0 THEN client_id END)"
        " AS BIGINT) AS daily_cohort_size"
    ]
    parts += [
        f"CAST(COUNT(DISTINCT CASE WHEN occur_day = {n} THEN client_id END)"
        f" AS BIGINT) AS d{n}_retained_users"
        for n in (1, 3, 7, 14, 28, 56, 84)
    ]
    parts.append(
        "CAST(COUNT(DISTINCT CASE WHEN occur_week = 0 THEN client_id END)"
        " AS BIGINT) AS weekly_cohort_size"
    )
    parts += [
        f"CAST(COUNT(DISTINCT CASE WHEN occur_week = {n} THEN client_id END)"
        f" AS BIGINT) AS w{n}_retained_users"
        for n in (1, 2, 3, 4, 8, 12)
    ]
    parts.append(
        "CAST(COUNT(DISTINCT CASE WHEN occur_month = 0 THEN client_id END)"
        " AS BIGINT) AS monthly_cohort_size"
    )
    parts += [
        f"CAST(COUNT(DISTINCT CASE WHEN occur_month = {n} THEN client_id END)"
        f" AS BIGINT) AS m{n}_retained_users"
        for n in (1, 2, 3)
    ]
    return ",\n       ".join(parts)


_RETAINED_ORACLE = f"""
WITH {_occurrence_chain_cte()}
SELECT os, country, measure_type, cohort_level, cohort_name, cohort_date,
       DATE '{AS_OF}' AS execution_date,
       {_retained_cols_sql()}
FROM couo
WHERE cohort_date <= DATE '{AS_OF}'
  AND cohort_date >= DATE '{AS_OF}' - 112
  AND occur_date <= DATE '{AS_OF}'
  AND occur_date >= DATE '{AS_OF}' - 112
  AND occur_day BETWEEN 0 AND 112
GROUP BY os, country, measure_type, cohort_level, cohort_name, cohort_date
"""


@query(
    "mango_retained_users_snapshot",
    oracle=_RETAINED_ORACLE,
    tags=("mango", "A5", "flagship"),
)
def mango_retained_users_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_cohort_retained_users
    (sql/mango_cohort_retained_users.sql:1-36) at FULL reference grain
    over the real pipeline chain: the 22-aggregate day/week/month pivot
    per (os, country, measure, cohort_level, cohort_name, cohort_date),
    channel AND feature measures, 112-day rolling window — the
    centerpiece table of the reference, hash-checked end to end from
    the raw event stream through attribution, cohorts and occurrence.

    Scale: same Expand consideration as `cohort_retention_full` — here
    the faithful COUNT(DISTINCT CASE) form is kept because the grain
    (cohort keys × dates) bounds each group; the Expand-free rewrite in
    queries/retention.py is the high-cardinality alternative."""
    from taipei_bi_etl_spark.plans.mango_dag import retained_pivot_from

    couo = _spark_couo(spark, sf_dir)
    r = retained_pivot_from(couo, AS_OF, lo_filter=True).drop("day")
    counts = [c for c in r.columns if "retained" in c or "cohort_size" in c]
    return r.select(
        "os", "country", "measure_type", "cohort_level", "cohort_name",
        "cohort_date", "execution_date",
        *[F.col(c).cast("long").alias(c) for c in counts],
    )


# ---------------------------------------------------------------------------
# mango_user_rfe_daily_session — the 3-branch session union.
# ---------------------------------------------------------------------------


def _core_cte() -> str:
    """Closed-form mango_core (Zerda rows only, as the core task
    materializes them)."""
    from taipei_bi_etl_spark.plans import telemetry_pipeline as tp

    return f"""
core AS (
  SELECT user_id AS client_id,
         CAST(ts AS DATE) AS submission_date,
         CASE WHEN event_id % 29 = 0 THEN '??'
              ELSE ({_lst(tp._COUNTRIES)})[(user_id % {len(tp._COUNTRIES)}) + 1]
         END AS geo_country,
         ({_lst(tp._ENTRYPOINTS)})[(event_id % {len(tp._ENTRYPOINTS)}) + 1]
           AS entrypoint,
         CASE WHEN event_id % 97 = 0 THEN 20000
              ELSE (event_id * 13) % 50 + 1 END AS volume
  FROM events
  WHERE event_id % 41 <> 0  -- app_name = 'Zerda'
)"""


def _session_likes_sql() -> str:
    from taipei_bi_etl_spark.plans.mango_dag import _SESSION_LIKES

    return " OR ".join(
        "feature_name LIKE '" + pat.replace("\\", "") + "'"
        for pat in _SESSION_LIKES
    )


_SESSION_ORACLE = f"""
WITH {_full_fm_cte()},
{_core_cte()},
fm AS (
  SELECT * FROM fanned
  WHERE feature_name NOT IN ('Others', 'feature: others')
),
fse AS (
  SELECT client_id, country, submission_date, event_timestamp,
         event_vertical, feature_type, feature_name, session_time,
         url_counts, app_link_install, app_link_open, show_keyboard
  FROM fm
  GROUP BY ALL
),
feature_session AS (
  SELECT client_id, country, submission_date, event_vertical,
         feature_type, feature_name,
         SUM(session_time) AS session_time,
         SUM(url_counts) AS url_counts,
         SUM(app_link_install) AS app_link_install,
         SUM(app_link_open) AS app_link_open,
         SUM(show_keyboard) AS show_keyboard
  FROM fse
  WHERE feature_type = 'Feature' AND ({_session_likes_sql()})
  GROUP BY 1, 2, 3, 4, 5, 6
),
vse AS (
  SELECT client_id, country, submission_date, event_vertical,
         feature_type, feature_name, event_method,
         event_timestamp AS start_ms
  FROM fm
  WHERE event_method IN ('start', 'end') AND event_object = 'process'
    AND feature_type = 'Vertical'
),
vlead AS (
  SELECT *,
         LEAD(start_ms) OVER (
           PARTITION BY client_id, event_vertical, country, submission_date
           ORDER BY start_ms, event_method, feature_name
         ) AS end_ms
  FROM vse
),
vst AS (
  SELECT client_id, country, submission_date, event_vertical,
         feature_type, feature_name,
         SUM(CASE WHEN end_ms - start_ms > {30 * 60 * 1000} THEN 0
                  ELSE end_ms - start_ms END) AS session_time
  FROM vlead WHERE event_method = 'start'
  GROUP BY 1, 2, 3, 4, 5, 6
),
bs AS (
  SELECT client_id, geo_country AS country, submission_date,
         'all' AS event_vertical, SUM(volume) AS search_counts
  FROM core WHERE volume < 10000
  GROUP BY 1, 2, 3, 4
),
vso AS (
  SELECT client_id, country, submission_date, event_vertical,
         SUM(url_counts) AS o_url_counts,
         SUM(app_link_install) AS o_app_link_install,
         SUM(app_link_open) AS o_app_link_open,
         SUM(show_keyboard) AS o_show_keyboard
  FROM feature_session
  GROUP BY 1, 2, 3, 4
),
vertical_session AS (
  SELECT t.client_id, t.country, t.submission_date, t.event_vertical,
         t.feature_type, t.feature_name, t.session_time,
         CASE WHEN t.feature_type = 'Vertical' AND t.event_vertical = 'all'
              THEN b.search_counts ELSE o.o_url_counts END AS url_counts,
         o.o_app_link_install AS app_link_install,
         o.o_app_link_open AS app_link_open,
         o.o_show_keyboard AS show_keyboard
  FROM vst t
  LEFT JOIN vso o USING (client_id, country, submission_date, event_vertical)
  LEFT JOIN bs b USING (client_id, country, submission_date, event_vertical)
),
app_session AS (
  SELECT client_id, country, submission_date,
         'all' AS event_vertical, 'App' AS feature_type,
         'App' AS feature_name,
         SUM(session_time) AS session_time,
         SUM(url_counts) AS url_counts,
         SUM(app_link_install) AS app_link_install,
         SUM(app_link_open) AS app_link_open,
         SUM(show_keyboard) AS show_keyboard
  FROM vertical_session
  GROUP BY 1, 2, 3
),
sess AS (
  SELECT * FROM feature_session
  UNION ALL SELECT * FROM vertical_session
  UNION ALL SELECT * FROM app_session
)
SELECT submission_date, event_vertical, feature_type, feature_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT client_id) AS BIGINT) AS n_clients,
       CAST(COALESCE(SUM(session_time), -1) AS BIGINT) AS sum_session_time,
       CAST(COALESCE(SUM(url_counts), -1) AS BIGINT) AS sum_url_counts,
       CAST(COALESCE(SUM(app_link_install), -1) AS BIGINT)
         AS sum_app_link_install,
       CAST(COALESCE(SUM(app_link_open), -1) AS BIGINT) AS sum_app_link_open,
       CAST(COALESCE(SUM(show_keyboard), -1) AS BIGINT) AS sum_show_keyboard
FROM sess
GROUP BY 1, 2, 3, 4
"""


@query(
    "mango_rfe_session_rollup",
    oracle=_SESSION_ORACLE,
    tags=("mango", "W2", "W3", "A7", "P5", "J7"),
)
def mango_rfe_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_user_rfe_daily_session
    (sql/mango_user_rfe_daily_session.sql:1-213) over every day in one
    pass: exact-row dedup (A7), the LIKE-set feature filter (P5),
    LEAD-sessionization of start/end process events with the 30-minute
    cap (W2/W3), browser search counts from the core stream (J7+P9),
    and the Vertical→App rollup union — rolled up per (day, vertical,
    feature) for the hash check.

    Multi-day in one pass is exactly the reference's day-at-a-time
    materialization because the session window partitions by
    submission_date; the (start_ms, event_method, feature_name)
    tie-break pins a total order so LEAD is engine-deterministic over
    the fan-out duplicates.

    Scale: one window shuffle on (client, vertical, country, day), one
    hash aggregate per branch — each keyed, none corpus×corpus."""
    from taipei_bi_etl_spark.plans.mango_dag import rfe_daily_session_from
    from taipei_bi_etl_spark.plans.telemetry_pipeline import (
        synthesize_core_pings,
    )

    fm = _spark_fm(spark, sf_dir)
    core = (
        synthesize_core_pings(spark, sf_dir)
        .filter(F.col("app_name") == "Zerda")
        .withColumn("day", F.col("submission_date"))
    )
    sess = rfe_daily_session_from(fm, core, None).drop("day")
    return sess.groupBy(
        "submission_date", "event_vertical", "feature_type", "feature_name"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("client_id").alias("n_clients"),
        *[
            F.coalesce(F.sum(c), F.lit(-1))
            .cast("long")
            .alias(f"sum_{c}")
            for c in (
                "session_time", "url_counts", "app_link_install",
                "app_link_open", "show_keyboard",
            )
        ],
    )


# ---------------------------------------------------------------------------
# mango_user_rfe_28d — the 28-day RFE profile join chain.
# ---------------------------------------------------------------------------

_RFE28_RATIOS = (
    "stickiness", "value_event_count", "session_time", "url_counts",
    "app_link_install", "app_link_open", "show_keyboard",
)


def _session_cte_body() -> str:
    """The session branches (fm → sess) minus the fanned/core CTEs —
    shared between the session rollup and the 28d profile oracles."""
    head = _SESSION_ORACLE.split("fm AS (", 1)[1]
    body = head.split("\nSELECT submission_date, event_vertical", 1)[0]
    return "fm AS (" + body


def _rfe28_cte() -> str:
    return f"""{_full_fm_cte()},
{_core_cte()},
{_user_channels_cte()},
{_session_cte_body()},
active_days AS (
  SELECT user_id AS client_id,
         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
  FROM events
  WHERE CAST(ts AS DATE) >= DATE '{AS_OF}' - 27
    AND CAST(ts AS DATE) <= DATE '{AS_OF}'
  GROUP BY 1
),
fcd AS (
  SELECT client_id, os, country, feature_type, feature_name,
         MIN(submission_date) AS cohort_date
  FROM fm
  GROUP BY 1, 2, 3, 4, 5
),
app_cohort AS (
  SELECT DISTINCT client_id, country, cohort_date AS profile_date
  FROM fcd WHERE feature_type = 'App'
),
partial_daily AS (
  SELECT p.client_id, p.os, p.country, c.profile_date,
         datediff('day', c.profile_date, p.submission_date) AS age,
         p.submission_date, p.feature_type, p.feature_name,
         p.value_event_count
  FROM (
    SELECT client_id, os, country, submission_date, feature_type,
           feature_name,
           COUNT(DISTINCT CAST(submission_date AS VARCHAR)
                 || CAST(event_timestamp AS VARCHAR)) AS value_event_count
    FROM fm
    GROUP BY 1, 2, 3, 4, 5, 6
  ) p
  LEFT JOIN app_cohort c USING (client_id, country)
),
partial28 AS (
  SELECT client_id, os, country, profile_date,
         datediff('day', profile_date, DATE '{AS_OF}') AS age,
         feature_type, feature_name,
         datediff('day', MAX(submission_date), DATE '{AS_OF}') AS recency,
         CAST(COUNT(DISTINCT submission_date) AS BIGINT) AS frequency_days,
         CAST(SUM(value_event_count) AS BIGINT) AS value_event_count
  FROM partial_daily
  WHERE submission_date > DATE '{AS_OF}' - 28
    AND submission_date <= DATE '{AS_OF}'
  GROUP BY 1, 2, 3, 4, 6, 7
),
session28 AS (
  SELECT client_id, country, event_vertical, feature_type, feature_name,
         SUM(session_time) AS s_session_time,
         SUM(url_counts) AS s_url_counts,
         SUM(app_link_install) AS s_app_link_install,
         SUM(app_link_open) AS s_app_link_open,
         SUM(show_keyboard) AS s_show_keyboard
  FROM sess
  WHERE submission_date > DATE '{AS_OF}' - 28
    AND submission_date <= DATE '{AS_OF}'
  GROUP BY 1, 2, 3, 4, 5
),
rfe28 AS (
  SELECT p.client_id,
         uc.network_name,
         p.os, p.country, p.profile_date, p.age,
         ad.active_days,
         p.feature_type, p.feature_name,
         CASE WHEN p.age >= 7 THEN p.recency END AS recency,
         CASE WHEN p.age >= 7 THEN
           CAST(p.frequency_days AS DOUBLE) / NULLIF(ad.active_days, 0)
         END AS stickiness,
         p.frequency_days,
         CAST(p.value_event_count AS DOUBLE) / NULLIF(p.frequency_days, 0)
           AS value_event_count,
         CAST(s.s_session_time AS DOUBLE) / NULLIF(p.frequency_days, 0)
           AS session_time,
         CAST(s.s_url_counts AS DOUBLE) / NULLIF(p.frequency_days, 0)
           AS url_counts,
         CAST(s.s_app_link_install AS DOUBLE) / NULLIF(p.frequency_days, 0)
           AS app_link_install,
         CAST(s.s_app_link_open AS DOUBLE) / NULLIF(p.frequency_days, 0)
           AS app_link_open,
         CAST(s.s_show_keyboard AS DOUBLE) / NULLIF(p.frequency_days, 0)
           AS show_keyboard,
         DATE '{AS_OF}' AS execution_date
  FROM partial28 p
  LEFT JOIN active_days ad USING (client_id)
  LEFT JOIN session28 s
    USING (client_id, feature_type, feature_name, country)
  LEFT JOIN uc_final uc USING (client_id)
)"""


_RFE28_ORACLE = f"""
WITH {_rfe28_cte()}
SELECT client_id,
       COALESCE(network_name, '(unattributed)') AS network_name,
       os, country,
       COALESCE(profile_date, DATE '1900-01-01') AS profile_date,
       CAST(COALESCE(age, -1) AS INT) AS age,
       COALESCE(active_days, -1) AS active_days,
       feature_type, feature_name,
       CAST(COALESCE(recency, -1) AS INT) AS recency,
       COALESCE(ROUND(stickiness, 6), -1.0) AS stickiness,
       frequency_days,
       COALESCE(ROUND(value_event_count, 6), -1.0) AS value_event_count,
       COALESCE(ROUND(session_time, 6), -1.0) AS session_time,
       COALESCE(ROUND(url_counts, 6), -1.0) AS url_counts,
       COALESCE(ROUND(app_link_install, 6), -1.0) AS app_link_install,
       COALESCE(ROUND(app_link_open, 6), -1.0) AS app_link_open,
       COALESCE(ROUND(show_keyboard, 6), -1.0) AS show_keyboard,
       execution_date
FROM rfe28
"""


def _spark_rfe28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized like _spark_fm."""

    def build() -> DataFrame:
        from taipei_bi_etl_spark.plans.mango_dag import (
            rfe_28d_from,
            rfe_daily_partial_from,
            rfe_daily_session_from,
        )
        from taipei_bi_etl_spark.plans.telemetry_pipeline import (
            synthesize_core_pings,
            synthesize_full_pings,
        )

        f = _spark_fm(spark, sf_dir)
        fcd = (
            f.filter(
                ~F.col("feature_name").isin("Others", "feature: others")
                & F.col("country").isNotNull()
                & F.col("os").isNotNull()
            )
            .groupBy(
                F.lit("feature").alias("measure_type"),
                F.col("feature_type").alias("cohort_level"),
                F.col("feature_name").alias("cohort_name"),
                "os", "country", "client_id",
            )
            .agg(F.min("submission_date").alias("cohort_date"))
        )
        partial = rfe_daily_partial_from(f, fcd)
        core = (
            synthesize_core_pings(spark, sf_dir)
            .filter(F.col("app_name") == "Zerda")
            .withColumn("day", F.col("submission_date"))
        )
        session = rfe_daily_session_from(f, core, None)
        pings = synthesize_full_pings(spark, sf_dir).withColumn(
            "day", F.col("submission_date")
        )
        return rfe_28d_from(
            pings, partial, session, _spark_uc(spark, sf_dir), AS_OF
        )

    return _frame_memo(spark, sf_dir, "rfe28", build)


@query(
    "mango_rfe_28d_snapshot",
    oracle=_RFE28_ORACLE,
    tags=("mango", "J4", "A3", "A4", "F2"),
)
def mango_rfe_28d_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_user_rfe_28d (sql/mango_user_rfe_28d.sql:1-117) end to
    end: the 28-day RFE profile — active_days ∥ daily-partial rollup ∥
    session rollup assembled with the J4 left-join chain, attribution
    channel name, the age≥7 recency/stickiness gates, and the
    per-use-day ratios — hash-checked from the raw event stream
    through every upstream node (feature mapping, cohorts, session
    union, attribution).

    Scale: four frames, each keyed on client_id (plus the feature key
    where applicable); the joins reuse one hash partitioning and the
    dims broadcast.  Ratios ROUND to 6 for the cross-engine hash; the
    DAG table keeps raw doubles."""
    # NULL-free presentation: every nullable cell gets a typed sentinel
    # (identical on the oracle side) so any row-sorting comparator can
    # canonicalize the result — mixed None/value columns are unsortable
    rfe = _spark_rfe28(spark, sf_dir).drop("day")
    keep = [
        "client_id",
        F.coalesce("network_name", F.lit("(unattributed)")).alias(
            "network_name"
        ),
        "os", "country",
        F.coalesce(
            "profile_date", F.lit("1900-01-01").cast("date")
        ).alias("profile_date"),
        F.coalesce(F.col("age"), F.lit(-1)).cast("int").alias("age"),
        F.coalesce("active_days", F.lit(-1).cast("long")).alias(
            "active_days"
        ),
        "feature_type", "feature_name",
        F.coalesce(F.col("recency"), F.lit(-1)).cast("int").alias("recency"),
        F.coalesce(F.round("stickiness", 6), F.lit(-1.0)).alias("stickiness"),
        "frequency_days",
    ]
    keep += [
        F.coalesce(F.round(c, 6), F.lit(-1.0)).alias(c)
        for c in _RFE28_RATIOS
        if c != "stickiness"
    ]
    keep += ["execution_date"]
    return rfe.select(*keep)


# ---------------------------------------------------------------------------
# mango_feature_roi — the terminal table: percentile pack ⟕ retention
# ratios ⟕ active-user averages, i.e. the ENTIRE pipeline in one oracle.
# ---------------------------------------------------------------------------


def _roi_oracle() -> str:
    from taipei_bi_etl_spark.plans.mango_dag import _RFE_METRICS

    # ROUND-6 inputs before the percentile — mirrors roi_from, see the
    # float-fragility note there (VERDICT r03 #6)
    pct_cols = ",\n         ".join(
        f"quantile_cont(ROUND({m}, 6), {p}) AS {m}_{tag}"
        for m in _RFE_METRICS
        for p, tag in ((0.25, "25p"), (0.5, "50p"), (0.75, "75p"))
    )
    rr_specs = (
        [(f"d{n}_retained_users", f"d{n}_retention", "daily_cohort_size")
         for n in (1, 3, 7, 14, 28, 56, 84)]
        + [(f"w{n}_retained_users", f"w{n}_retention", "weekly_cohort_size")
           for n in (1, 2, 4, 8, 12)]
        + [(f"m{n}_retained_users", f"m{n}_retention", "monthly_cohort_size")
           for n in (1, 2, 3)]
    )
    rr_cols = ",\n         ".join(
        f"CAST(SUM({num}) AS DOUBLE) / NULLIF(SUM({den}), 0) AS {out}"
        for num, out, den in rr_specs
    )
    # pct outputs ROUND 8, not 6: with ROUND-6 inputs the quartile
    # interpolation lands EXACTLY on the quarter-micro grid (k·2.5e-7 —
    # ≤8 decimals), so rounding at 8 snaps both engines to the same
    # grid point no matter how their interpolation formulas or
    # half-rules differ; rounding the same value at 6 is a coin flip
    # whenever the grid point is an exact half at digit 7 (measured:
    # stickiness_50p 0.1016665 → Spark 0.101666, DuckDB 0.101667).
    out_pct = ",\n       ".join(
        f"COALESCE(ROUND({m}_{tag}, 8), -1.0) AS {m}_{tag}"
        for m in _RFE_METRICS
        for tag in ("25p", "50p", "75p")
    )
    out_rr = ",\n       ".join(
        f"COALESCE(ROUND({out}, 6), -1.0) AS {out}" for _, out, _d in rr_specs
    )
    out_au = ",\n       ".join(
        f"COALESCE(ROUND({c}, 6), -1.0) AS {c}"
        for c in ("new_aDAU", "aDAU", "new_aWAU", "aWAU", "new_aMAU", "aMAU")
    )
    return f"""
WITH {_rfe28_cte()},
{_OCCURRENCE_CTE_TEMPLATE.split("days AS (", 1)[0]}days AS (
{_OCCURRENCE_CTE_TEMPLATE.split("days AS (", 1)[1]},
retained AS (
  SELECT os, country, measure_type, cohort_level, cohort_name, cohort_date,
         {_retained_cols_sql()}
  FROM couo
  WHERE cohort_date <= DATE '{AS_OF}'
    AND cohort_date >= DATE '{AS_OF}' - 112
    AND occur_date <= DATE '{AS_OF}'
    AND occur_date >= DATE '{AS_OF}' - 112
    AND occur_day BETWEEN 0 AND 112
  GROUP BY 1, 2, 3, 4, 5, 6
),
auwin AS (
  SELECT *,
         CASE WHEN occur_day = 0 THEN client_id END AS new_client_id
  FROM couo
  WHERE occur_date > DATE '{AS_OF}' - 28 AND occur_date <= DATE '{AS_OF}'
),
au AS (
  SELECT os, country, measure_type, cohort_level, cohort_name, occur_date,
         COUNT(DISTINCT new_client_id) AS new_dau,
         COUNT(DISTINCT client_id) AS dau,
         0 AS new_wau, 0 AS wau, 0 AS new_mau, 0 AS mau
  FROM auwin
  GROUP BY 1, 2, 3, 4, 5, 6
),
rfe_pct AS (
  SELECT os, country, feature_type AS cohort_level,
         feature_name AS cohort_name,
         {pct_cols}
  FROM rfe28
  GROUP BY 1, 2, 3, 4
),
rr AS (
  SELECT os, country, cohort_level, cohort_name,
         {rr_cols}
  FROM retained
  WHERE measure_type = 'feature'
    AND cohort_date > DATE '{AS_OF}' - 28 AND cohort_date <= DATE '{AS_OF}'
  GROUP BY 1, 2, 3, 4
),
au_avg AS (
  SELECT os, country, cohort_level, cohort_name,
         AVG(new_dau) AS "new_aDAU", AVG(dau) AS "aDAU",
         AVG(new_wau) AS "new_aWAU", AVG(wau) AS "aWAU",
         AVG(new_mau) AS "new_aMAU", AVG(mau) AS "aMAU"
  FROM au
  WHERE measure_type = 'feature'
  GROUP BY 1, 2, 3, 4
)
SELECT p.os, p.country, p.cohort_level, p.cohort_name,
       {out_pct},
       {out_rr},
       {out_au},
       DATE '{AS_OF}' AS execution_date
FROM rfe_pct p
LEFT JOIN rr USING (os, country, cohort_level, cohort_name)
LEFT JOIN au_avg USING (os, country, cohort_level, cohort_name)
"""


def _roi_presentation(roi: DataFrame) -> DataFrame:
    """Shared NULL-sentinel + rounding projection for both ROI
    snapshots.  Percentile columns ROUND 8 (with ROUND-6 inputs the
    quartile interpolation lands exactly on the quarter-micro grid,
    k·2.5e-7, so rounding at 8 snaps both engines to the same grid
    point — rounding at 6 coin-flips on exact digit-7 halves; see
    `_roi_oracle`); ratio/average columns stay ROUND 6."""
    from taipei_bi_etl_spark.plans.mango_dag import _RFE_METRICS

    keys = ["os", "country", "cohort_level", "cohort_name"]
    pct_cols = [
        f"{m}_{tag}" for m in _RFE_METRICS for tag in ("25p", "50p", "75p")
    ]
    r6_cols = [
        f"d{n}_retention" for n in (1, 3, 7, 14, 28, 56, 84)
    ] + [f"w{n}_retention" for n in (1, 2, 4, 8, 12)] + [
        f"m{n}_retention" for n in (1, 2, 3)
    ] + ["new_aDAU", "aDAU", "new_aWAU", "aWAU", "new_aMAU", "aMAU"]
    return roi.select(
        *keys,
        *[
            F.coalesce(F.round(F.col(c), 8), F.lit(-1.0)).alias(c)
            for c in pct_cols
        ],
        *[
            F.coalesce(F.round(F.col(c), 6), F.lit(-1.0)).alias(c)
            for c in r6_cols
        ],
        "execution_date",
    )


@query(
    "mango_feature_roi_snapshot",
    oracle=_roi_oracle(),
    tags=("mango", "W4", "A10", "J4", "flagship"),
)
def mango_feature_roi_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_feature_roi (sql/mango_feature_roi.sql:1-217) — the
    TERMINAL table of the reference pipeline, hash-checked from raw
    events through every node it transitively consumes: feature
    mapping, attribution, cohorts, occurrence, the 22-agg retention
    pivot, active-user counts, the 28-day RFE profile, and finally the
    30-percentile pack (the W4 group-by rewrite of the reference's
    PERCENTILE_CONT-over-window + SELECT DISTINCT), sum-of-sums
    retention ratios (A10), and active-user averages, joined per
    cohort (J4).

    One caveat kept faithful: the reference's ROI reads
    active_user_count rows materialized DAILY (each with rolling
    wau/mau); the snapshot derives the dau column the same way but
    pins wau/mau averages to 0 on both sides — the daily-materialized
    history needed for a true avg-of-rolling-windows exists only in
    the DAG warehouse (covered by tests/test_mango_full_dag.py).

    All float outputs ROUND 6 with -1.0 NULL sentinels, so the row
    hash is stable for any comparator."""
    from taipei_bi_etl_spark.plans.mango_dag import (
        _RFE_METRICS,
        retained_pivot_from,
        roi_from,
    )

    # persist the shared fm frame that couo and rfe28 both read
    _spark_fm(spark, sf_dir, persisted=True)
    couo = _spark_couo(spark, sf_dir)
    rfe28 = _spark_rfe28(spark, sf_dir)
    retained = retained_pivot_from(couo, AS_OF, lo_filter=True)
    # snapshot AU: per-day dau over the 28d window; wau/mau pinned 0
    # (see docstring)
    as_of = F.lit(AS_OF).cast("date")
    auwin = couo.filter(
        (F.col("occur_date") > F.date_sub(as_of, 28))
        & (F.col("occur_date") <= as_of)
    ).select(
        "os", "country", "measure_type", "cohort_level", "cohort_name",
        "client_id",
        F.when(F.col("occur_day") == 0, F.col("client_id")).alias(
            "new_client_id"
        ),
        "occur_date",
    )
    au = auwin.groupBy(
        "os", "country", "measure_type", "cohort_level", "cohort_name",
        "occur_date",
    ).agg(
        F.countDistinct("new_client_id").alias("new_dau"),
        F.countDistinct("client_id").alias("dau"),
        F.lit(0).alias("new_wau"),
        F.lit(0).alias("wau"),
        F.lit(0).alias("new_mau"),
        F.lit(0).alias("mau"),
    )
    roi = roi_from(rfe28, retained, au, AS_OF, "feature").drop("day")
    return _roi_presentation(roi)


def _channel_roi_oracle() -> str:
    """The channel-measure ROI twin (sql/mango_channel_roi.sql:1-217):
    identical machinery with cohort_level 'Network' and the rfe side
    grouped by attribution network instead of feature."""
    from taipei_bi_etl_spark.plans.mango_dag import _RFE_METRICS

    feature = _roi_oracle()
    # retarget the rfe percentile grain and the measure filters
    out = feature.replace(
        """rfe_pct AS (
  SELECT os, country, feature_type AS cohort_level,
         feature_name AS cohort_name,""",
        """rfe_pct AS (
  SELECT os, country, 'Network' AS cohort_level,
         COALESCE(network_name, '(unattributed)') AS cohort_name,""",
    )
    out = out.replace("WHERE measure_type = 'feature'", "WHERE measure_type = 'channel'")
    assert "'channel'" in out and "'Network'" in out
    return out


@query(
    "mango_channel_roi_snapshot",
    oracle=_channel_roi_oracle(),
    tags=("mango", "W4", "A10", "J4"),
)
def mango_channel_roi_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mango_channel_roi (sql/mango_channel_roi.sql:1-217): the
    channel-measure ROI — the same percentile/retention/AU assembly as
    the feature ROI, grained by attribution network (cohort_level
    'Network'), closing the last reference table without a snapshot
    oracle.  Same end-to-end chain, same NULL-sentinel policy."""
    from taipei_bi_etl_spark.plans.mango_dag import (
        _RFE_METRICS,
        retained_pivot_from,
        roi_from,
    )

    # persist the shared fm frame that couo and rfe28 both read
    _spark_fm(spark, sf_dir, persisted=True)
    couo = _spark_couo(spark, sf_dir)
    rfe28 = _spark_rfe28(spark, sf_dir).withColumn(
        "network_name",
        F.coalesce("network_name", F.lit("(unattributed)")),
    )
    retained = retained_pivot_from(couo, AS_OF, lo_filter=True)
    as_of = F.lit(AS_OF).cast("date")
    auwin = couo.filter(
        (F.col("occur_date") > F.date_sub(as_of, 28))
        & (F.col("occur_date") <= as_of)
    ).select(
        "os", "country", "measure_type", "cohort_level", "cohort_name",
        "client_id",
        F.when(F.col("occur_day") == 0, F.col("client_id")).alias(
            "new_client_id"
        ),
        "occur_date",
    )
    au = auwin.groupBy(
        "os", "country", "measure_type", "cohort_level", "cohort_name",
        "occur_date",
    ).agg(
        F.countDistinct("new_client_id").alias("new_dau"),
        F.countDistinct("client_id").alias("dau"),
        F.lit(0).alias("new_wau"),
        F.lit(0).alias("wau"),
        F.lit(0).alias("new_mau"),
        F.lit(0).alias("mau"),
    )
    roi = roi_from(rfe28, retained, au, AS_OF, "channel").drop("day")
    return _roi_presentation(roi)


@query(
    "mango_feature_surface_native",
    oracle=_SURFACE_ORACLE,
    tags=("mango", "D2", "D4", "U1", "extension"),
)
def mango_feature_surface_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME surface rollup as `mango_feature_surface_rollup`, fed
    by the parquet-native structured-events fast path
    (`plans/telemetry_pipeline.structured_pings_from`): events arrive
    as ARRAY<STRUCT> and the build-JSON → VARIANT-parse round trip is
    skipped.  Oracle is the IDENTICAL SQL text as the JSON path's, so
    the two entries are hash-proven row-identical — the fast path is a
    safe drop-in for warehouses that store structured telemetry.

    Scale: removes the two most expensive map stages of the chain
    (string assembly and variant parse, ~half the chain's CPU at
    sf0.1); everything from D2 cleanup onward is the shared code
    path."""
    from taipei_bi_etl_spark.plans.telemetry_pipeline import (
        map_features_full,
        structured_pings_from,
        unnest_events_structured,
    )

    from taipei_bi_etl_spark.scale import widen_scan

    # widen_scan: same rationale as synthesize_full_pings — the
    # structured synthesis + cascade are map-side above this scan
    # (measured 3.65 → ~1 s at sf0.1 once widened, SCALE.md r10)
    fm = map_features_full(
        unnest_events_structured(
            structured_pings_from(widen_scan(read_table(spark, sf_dir, "events")))
        )
    )
    return fm.groupBy("submission_date", "feature_type", "feature_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("client_id").alias("n_clients"),
        *[
            F.coalesce(F.sum(c), F.lit(-1))
            .cast("long")
            .alias(f"sum_{c}")
            for c in (
                "session_time", "url_counts", "app_link_install",
                "app_link_open", "show_keyboard",
            )
        ],
    )
