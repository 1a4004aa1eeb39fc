"""Temporal-operator queries: as-of join and event-time windows.

Engine extensions beyond the reference (it has no event time at all,
SURVEY.md §2.8) — registered with DuckDB oracles that use a DIFFERENT
algorithm for the same semantics (DuckDB's native ASOF JOIN vs our
union+window; lag/cumsum sessionization vs session_window), which
makes them strong cross-checks.

Timestamps are compared as formatted strings (the hourly_event_type_
counts pattern) to stay clear of engine timestamp-type differences;
events.ts arrives as TIMESTAMP_NTZ (sources/parquet.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.operators.joins import asof_join, interval_join
from umn_eda_kafka_stream_processing_spark.operators.windows import (
    session_agg,
    sliding_agg,
    event_ts,
)
from umn_eda_kafka_stream_processing_spark.plans.registry import register as _register
from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@_register(
    "asof_latest_order_per_event",
    "As-of join: each event picks up the user's latest order at or before "
    "the event time (operators/joins.py:asof_join — union+window, one "
    "shuffle). Oracle uses DuckDB's native ASOF JOIN: same semantics, "
    "different algorithm.",
    f"""
    WITH upd AS (
      SELECT o_custkey AS custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2
    ), f AS (
      SELECT user_id AS custkey, event_id, CAST(ts AS TIMESTAMP) AS ets
      FROM events
    )
    SELECT f.event_id, f.custkey,
           strftime(f.ets, '{_TS_FMT_DUCK}') AS event_ts,
           u.o_orderkey,
           strftime(u.o_orderdate, '{_TS_FMT_DUCK}') AS order_date
    FROM f ASOF JOIN upd u
      ON f.custkey = u.custkey AND f.ets >= u.o_orderdate
    """,
)
def asof_latest_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    facts = events.select(
        F.col("user_id").alias("custkey"),
        "event_id",
        event_ts("ts").alias("ets"),
    )
    updates = (
        orders.groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        facts, updates, "custkey", "ets", "o_orderdate",
        ["o_orderkey", "o_orderdate"], how="inner",
    )
    return joined.select(
        "event_id", "custkey",
        F.date_format("ets", _TS_FMT_SPARK).alias("event_ts"),
        "o_orderkey",
        F.date_format("o_orderdate", _TS_FMT_SPARK).alias("order_date"),
    )


@_register(
    "sliding_event_type_counts",
    "Sliding-window counts (1 h window, 30 min slide) per event type "
    "(operators/windows.py:sliding_agg). Oracle expands each event into its "
    "two covering windows via time_bucket arithmetic.",
    """
    WITH b AS (
      SELECT event_type,
             time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS b30
      FROM events
    ), w AS (
      SELECT event_type, b30 AS ws FROM b
      UNION ALL
      SELECT event_type, b30 - INTERVAL '30 minutes' FROM b
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS count
    FROM w GROUP BY 1, 2
    """,
)
def sliding_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "ets", event_ts("ts")
    )
    win = sliding_agg(events, "ets", "1 hour", "30 minutes", ["event_type"])
    return win.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "count",
    )


@_register(
    "session_event_counts",
    "Per-user session windows with a 30 min inactivity gap "
    "(operators/windows.py:session_agg). Oracle sessionizes via "
    "lag + running sum — independent algorithm, same semantics "
    "(session end = last event + gap; an event at exactly gap distance "
    "starts a new session).",
    f"""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ets FROM events),
    m AS (
      SELECT user_id, ets,
             CASE WHEN lag(ets) OVER (PARTITION BY user_id ORDER BY ets) IS NULL
                    OR ets - lag(ets) OVER (PARTITION BY user_id ORDER BY ets)
                       >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), s AS (
      SELECT user_id, ets,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ets
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           strftime(min(ets), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ets) + INTERVAL '30 minutes', '{_TS_FMT_DUCK}') AS session_end,
           CAST(count(*) AS BIGINT) AS count
    FROM s GROUP BY user_id, sid
    """,
)
def session_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "ets", event_ts("ts")
    )
    win = session_agg(events, "ets", "30 minutes", ["user_id"])
    return win.select(
        "user_id",
        F.date_format("session_start", _TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end", _TS_FMT_SPARK).alias("session_end"),
        "count",
    )


@_register(
    "first_week_event_counts",
    "Interval join: each user's events falling inside [first event, first "
    "event + 7 days), counted per user (operators/joins.py:interval_join — "
    "key-equi hash join with the range as a probe predicate).",
    """
    WITH f AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ets FROM events),
    iv AS (SELECT user_id, min(ets) AS s, min(ets) + INTERVAL '7 days' AS e
           FROM f GROUP BY user_id)
    SELECT iv.user_id, CAST(count(*) AS BIGINT) AS n_first_week
    FROM f JOIN iv ON f.user_id = iv.user_id AND f.ets >= iv.s AND f.ets < iv.e
    GROUP BY iv.user_id
    """,
)
def first_week_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    facts = events.select(
        "user_id", "event_id", event_ts("ts").alias("ets")
    )
    # intervals from an independent scan: deriving them from `facts`
    # would make the interval join an ambiguous self-join
    intervals = (
        load_table(spark, sf_dir, "events")
        .select("user_id", event_ts("ts").alias("ets"))
        .groupBy("user_id")
        .agg(
            F.min("ets").alias("s"),
            (F.min("ets") + F.expr("INTERVAL 7 DAYS")).alias("e"),
        )
    )
    joined = interval_join(facts, intervals, "user_id", "ets", "s", "e")
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_first_week")
    )


@_register(
    "user_prop_gaps",
    "Anti-join / EXCEPT set semantics over a derived domain: per user, how "
    "many observed prop-k values (extracted from the events JSON props "
    "column) the user has never produced — distinct users x distinct ks "
    "minus observed pairs (engine set-operation surface beyond the "
    "reference's merge, SURVEY.md §2.5).",
    r"""
    WITH obs AS (
      SELECT DISTINCT user_id,
             CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
      FROM events
      WHERE regexp_matches(props, '"k": (\d+)')
    ),
    gaps AS (
      SELECT u.user_id, ks.k
      FROM (SELECT DISTINCT user_id FROM obs) u
      CROSS JOIN (SELECT DISTINCT k FROM obs) ks
      EXCEPT
      SELECT user_id, k FROM obs
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_missing
    FROM gaps GROUP BY user_id
    """,
)
def user_prop_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    obs = events.select(
        "user_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k"),
    ).filter(F.col("k").isNotNull()).distinct()
    universe = obs.select("user_id").distinct().crossJoin(
        obs.select("k").distinct()
    )
    gaps = universe.join(obs, ["user_id", "k"], "left_anti")
    return gaps.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_missing"))


# Shared DuckDB CTE: 24-dim circadian profile per user (hour-of-day
# value sums, decimal-exact then 4dp). Ends by defining dense(user_id, v)
# — the exact twin of _circadian_profiles below. Reused by both the
# exact-NxN query and its SRP-LSH scale twin.
_PROFILE_CTE = """hs AS (
      SELECT user_id, CAST(extract(hour FROM ts) AS INT) AS h,
             floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   * 10000.0 + 0.5) / 10000.0 AS hv
      FROM events GROUP BY 1, 2),
    vec AS (
      SELECT user_id, MAP(list(h ORDER BY h), list(hv ORDER BY h)) AS m
      FROM hs GROUP BY user_id),
    dense AS (
      SELECT user_id,
             list_transform(range(0, 24),
                            i -> coalesce(map_extract(m, i)[1], 0.0)) AS v
      FROM vec)"""


def _circadian_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-dim circadian profile per user as (user_id, vec): hour-of-day
    value sums in DECIMAL (order-exact across engines and
    partitionings), rounded to 4dp as the profile components. The
    result is explicit-count repartitioned and localCheckpoint-ed:
    both consumers self-join it (CLAUDE.md traps — AQE coalesces the
    tiny profile shuffle to ~1 partition right before the expensive
    pair scoring, and a lazy cache would race to rebuild the lineage
    per join side)."""
    from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up

    events = load_table(spark, sf_dir, "events")
    hs = (
        events.select(
            "user_id",
            F.hour("ts").alias("h"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("user_id", "h")
        .agg(round_half_up(F.sum("v").cast("double"), 4).alias("hv"))
    )
    return materialize(
        hs.groupBy("user_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("h", "hv"))).alias("m"))
        .select(
            "user_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(23)),
                lambda i: F.coalesce(F.col("m")[i], F.lit(0.0)),
            ).alias("vec"),
        )
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("user_id")
        ),
        Why.SELF_JOIN,
    )


@_register(
    "user_activity_similarity",
    "Time-series similarity search (cf. EDBT'19 'Time Series Similarity "
    "Search for Streaming Data in Distributed Systems', re-expressed "
    "declaratively): each user's event series becomes a 24-dim circadian "
    "profile (hour-of-day value sums, decimal-exact then 4dp), and the "
    "engine's exact ANN path (operators/similarity.py:cosine_topk) "
    "returns every user's top-3 most behaviorally similar users. Exact "
    "N x N is the oracle-checkable baseline; the 100 TB path is "
    "user_activity_similarity_lsh — srp_lsh_pairs over the SAME "
    "profile vectors (blockless linear LSH), exactly like the "
    "embedding family.",
    f"""
    WITH {_PROFILE_CTE},
    scored AS (
      SELECT a.user_id AS query_id, b.user_id AS neighbor_id,
             floor(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))
                   * 1000000.0 + 0.5) / 1000000.0 AS sim
      FROM dense a JOIN dense b ON a.user_id <> b.user_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 3
    """,
)
def user_activity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import similarity as sim

    prof = _circadian_profiles(spark, sf_dir)
    return sim.cosine_topk(prof, prof, k=3, id_col="user_id", vec_col="vec")


def _profile_srp_oracle() -> str:
    """SRP-LSH oracle over the circadian profiles: the generic
    srp_lsh twin (catalog_data._srp_oracle) pointed at the profile
    CTE instead of the embeddings table — same md5 hyperplanes, 24-dim."""
    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import _srp_oracle
    threshold = 0.8

    src = f"{_PROFILE_CTE},\n    e AS (SELECT user_id, v FROM dense)"
    return _srp_oracle(threshold, dim=24, src_cte=src, id_col="user_id")


@_register(
    "user_activity_similarity_lsh",
    "The 100 TB scale path of user_activity_similarity: SRP-LSH near-pair "
    "search over the SAME 24-dim circadian profiles "
    "(operators/similarity.py:srp_lsh_pairs — blockless linear LSH, "
    "4 bands x 6 bits, md5-derived hyperplanes, exact-cosine verify). "
    "Linear sketch + band-key self-join replaces the exact path's "
    "quadratic N x N scoring; tests/test_temporal_ops.py pins recall "
    "vs the exact path.",
    _profile_srp_oracle(),
)
def user_activity_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import similarity as sim

    prof = _circadian_profiles(spark, sf_dir)
    return sim.srp_lsh_pairs(
        prof, threshold=0.8, dim=24, id_col="user_id", vec_col="vec"
    )


@_register(
    "user_state_scd2",
    "Slowly-changing-dimension type-2 materialization of the event "
    "changelog (operators/windows.py:scd2_intervals): every (user, "
    "event) version gains [valid_from, valid_to) with valid_to = the "
    "user's next version's timestamp (NULL while current) via ONE "
    "lead() window partitioned by user — the warehouse as-of-time "
    "probe pattern, never a corpus-wide window. Versions summarize "
    "per event_type; closed-version durations sum in exact "
    "MICROSECONDS (both engines are microsecond-precision on this "
    "data, so timestampdiff == date_diff exactly — no float time "
    "arithmetic, per the repo's NTZ rules).",
    """
    WITH v AS (
      SELECT event_type,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS valid_to
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_current,
           CAST(sum(CASE WHEN valid_to IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_closed,
           CAST(coalesce(sum(CASE WHEN valid_to IS NULL THEN 0
                ELSE date_diff('microsecond', valid_from, valid_to) END), 0)
               AS BIGINT) AS sum_duration_us
    FROM v GROUP BY event_type
    """,
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.windows import (
        scd2_intervals,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", event_ts("ts").alias("ts")
    )
    scd = scd2_intervals(ev, "user_id", "ts", ["event_id"])
    return scd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(F.when(F.col("is_current"), 1).otherwise(0))
        .cast("long")
        .alias("n_current"),
        F.sum(F.when(F.col("is_current"), 0).otherwise(1))
        .cast("long")
        .alias("n_closed"),
        F.coalesce(
            F.sum(
                F.when(F.col("is_current"), F.lit(0)).otherwise(
                    F.expr(
                        "timestampdiff(MICROSECOND, valid_from, valid_to)"
                    )
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_duration_us"),
    )


@_register(
    "incremental_scd2_census",
    "Incrementally-maintained SCD2 dimension (operators/windows.py:"
    "incremental_scd2): the event changelog is ingested in THREE "
    "microbatches split by pmod(hash(event_id), 3) — deliberately NOT "
    "time-ordered, so versions arrive late and splice into existing "
    "timelines — each batch recomputing only its affected keys' "
    "intervals into a bucket-partitioned store (SnapshotStore.upsert, "
    "latest-wins). The census over the final store must equal batch "
    "scd2_intervals over the full history: the oracle IS that batch "
    "computation in SQL, so a single stale valid_to or missed splice "
    "hash-mismatches. Per-user version counts also pin the store's "
    "exact row multiset (n_keys, max_versions).",
    """
    WITH v AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS valid_to
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_current,
           CAST(coalesce(sum(CASE WHEN valid_to IS NULL THEN 0
                ELSE date_diff('microsecond', valid_from, valid_to) END), 0)
               AS BIGINT) AS sum_duration_us
    FROM v GROUP BY event_type
    """,
)
def incremental_scd2_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.windows import (
        incremental_scd2,
        scd2_from_store,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", event_ts("ts").alias("ts")
    )
    store = tempfile.mkdtemp(prefix="sparkgraft_scd2_census_") + "/store"
    for i in range(3):
        incremental_scd2(
            ev.where(F.expr(f"pmod(hash(event_id), 3) = {i}")),
            store,
            batch_seq=i,
            key_cols="user_id",
            ts_col="ts",
            order_cols=("event_id",),
            # census-sized store: fewer buckets = fewer tiny files per
            # dynamic overwrite (the per-batch cost here is fixed job
            # overhead, not data volume)
            n_buckets=8,
        )
    scd = scd2_from_store(spark, store)
    return scd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.countDistinct("user_id").cast("long").alias("n_keys"),
        F.sum(F.when(F.col("is_current"), 1).otherwise(0))
        .cast("long")
        .alias("n_current"),
        F.coalesce(
            F.sum(
                F.when(F.col("is_current"), F.lit(0)).otherwise(
                    F.expr(
                        "timestampdiff(MICROSECOND, valid_from, valid_to)"
                    )
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_duration_us"),
    )


def _scd2_week_oracle() -> str:
    return """
    WITH v AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS valid_to
      FROM events
    ), wk AS (
      SELECT DISTINCT date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
      FROM events
    )
    SELECT strftime(wk.w, '%Y-%m-%d') AS week,
           v.event_type,
           CAST(count(*) AS BIGINT) AS n_users
    FROM v JOIN wk
      ON v.valid_from <= wk.w
     AND (v.valid_to IS NULL OR wk.w < v.valid_to)
    GROUP BY 1, 2
    """


@_register(
    "scd2_asof_week_census",
    "The SCD2 as-of-T probe (the reason the dimension is "
    "materialized at all): at every week boundary present in the "
    "stream, how many users sat in each state — valid_from <= T < "
    "valid_to against scd2_intervals' per-key lead() windows "
    "(operators/windows.py). Plan: the tiny week grid (O(weeks) "
    "rows) BROADCASTS into a nested-loop range probe against the "
    "version table — at 100 TB the versions side stays partitioned "
    "and never shuffles for this; a valid_from sort key would make "
    "it a pruned range scan. Week boundaries via date_trunc "
    "(engine-portable per the retention queries); boundary ties are "
    "deterministic (inclusive from, exclusive to).",
    _scd2_week_oracle(),
)
def scd2_asof_week_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.windows import (
        scd2_intervals,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", event_ts("ts").alias("ts")
    )
    scd = scd2_intervals(ev, "user_id", "ts", ["event_id"])
    weeks = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("week", event_ts("ts")).alias("w"))
        .distinct()
    )
    probed = scd.join(
        F.broadcast(weeks),
        (F.col("valid_from") <= F.col("w"))
        & (F.col("valid_to").isNull() | (F.col("w") < F.col("valid_to"))),
    )
    return probed.groupBy(
        F.date_format("w", "yyyy-MM-dd").alias("week"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


_FUNNEL_STEPS = ("view", "click", "purchase")


@_register(
    "funnel_conversion",
    "Ordered funnel (view -> click -> purchase, 7-day completion "
    "window, earliest-completion semantics): per-step reached-user "
    "counts + conversion vs step 1 in integer micros "
    "(operators/windows.py:funnel_steps). Scale shape: each step is "
    "one type-pruned filtered hash-agg + one user-keyed join against "
    "the reach frontier — never a corpus-wide event-sequence window. "
    "Oracle: the same step chain as DuckDB CTEs with the identical "
    "integer rounding formula, so the division is exact-match by "
    "construction.",
    """
    WITH s1 AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), s2 AS (
      SELECT s1.user_id, s1.t1, min(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM s1 JOIN events e ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND CAST(e.ts AS TIMESTAMP) > s1.t1
        AND CAST(e.ts AS TIMESTAMP) <= s1.t1 + INTERVAL 7 DAY
      GROUP BY 1, 2
    ), s3 AS (
      SELECT s2.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM s2 JOIN events e ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(e.ts AS TIMESTAMP) > s2.t2
        AND CAST(e.ts AS TIMESTAMP) <= s2.t1 + INTERVAL 7 DAY
      GROUP BY 1
    ), c AS (
      SELECT (SELECT count(*) FROM s1) AS r1,
             (SELECT count(*) FROM s2) AS r2,
             (SELECT count(*) FROM s3) AS r3
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             CAST(r1 AS BIGINT) AS users_reached,
             CAST(CASE WHEN r1 = 0 THEN 0
                  ELSE (1000000 * r1 + r1 // 2) // r1 END AS BIGINT)
                 AS conversion_micro
      FROM c
      UNION ALL
      SELECT 2, 'click', CAST(r2 AS BIGINT),
             CAST(CASE WHEN r1 = 0 THEN 0
                  ELSE (1000000 * r2 + r1 // 2) // r1 END AS BIGINT)
      FROM c
      UNION ALL
      SELECT 3, 'purchase', CAST(r3 AS BIGINT),
             CAST(CASE WHEN r1 = 0 THEN 0
                  ELSE (1000000 * r3 + r1 // 2) // r1 END AS BIGINT)
      FROM c
    )
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.windows import funnel_steps

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    frontier = funnel_steps(ev, _FUNNEL_STEPS, window="7 days")
    counts = frontier.agg(
        *[
            F.count(f"t{k}").cast("long").alias(f"r{k}")
            for k in range(1, len(_FUNNEL_STEPS) + 1)
        ]
    )
    rows = counts.selectExpr(
        "stack({n}, {args}) as (step_idx, step, users_reached)".format(
            n=len(_FUNNEL_STEPS),
            args=", ".join(
                f"CAST({k} AS BIGINT), '{s}', r{k}"
                for k, s in enumerate(_FUNNEL_STEPS, start=1)
            ),
        ),
        "r1",
    )
    return rows.select(
        "step_idx",
        "step",
        "users_reached",
        F.expr(
            "CASE WHEN r1 = 0 THEN 0 ELSE (1000000 * users_reached "
            "+ r1 div 2) div r1 END"
        )
        .cast("long")
        .alias("conversion_micro"),
    )


@_register(
    "event_transition_matrix",
    "First-order Markov transition matrix of per-user event "
    "sequences (operators/windows.py:transition_counts): one lag() "
    "window partitioned BY USER (per-key frames, never corpus-wide; "
    "event_id tie-break), pair hash-agg, then row-normalized "
    "transition probability as integer micros computed with the "
    "IDENTICAL integer formula on both engines (one division per "
    "matrix cell of exact BIGINT aggregates — #types^2 rows).",
    """
    WITH seq AS (
      SELECT event_type AS ft,
             lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS nt
      FROM events
    ), p AS (
      SELECT ft AS from_type, nt AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nt IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST((1000000 * n + sum(n) OVER (PARTITION BY from_type) // 2)
                // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
               AS prob_micro
    FROM p
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.windows import (
        transition_counts,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return transition_counts(ev)


@_register(
    "weekly_retention_cohorts",
    "Cohort retention matrix — the product-analytics staple: users "
    "cohorted by the Monday week of their FIRST event, then each "
    "(cohort, week-offset) cell counts users active k weeks later, "
    "with retention vs cohort size in integer micros (identical "
    "BIGINT rounding formula both engines). Shape: distinct "
    "(user, week) hash-agg, per-user min() cohort, one user-keyed "
    "join, one (cohort, offset) hash-agg — no corpus window, no "
    "per-user sequence materialization; at 100 TB every step is "
    "keyed by user or by the tiny cohort matrix. Weeks via "
    "date_trunc('week') (Monday on both engines), offsets via exact "
    "day arithmetic div 7.",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      FROM events
    ),
    fw AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id),
    act AS (
      SELECT fw.cw, date_diff('day', fw.cw, uw.wk) // 7 AS week_offset,
             CAST(count(*) AS BIGINT) AS n_active
      FROM uw JOIN fw ON fw.user_id = uw.user_id
      GROUP BY 1, 2
    ),
    cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort
           FROM fw GROUP BY cw)
    SELECT strftime(act.cw, '%Y-%m-%d') AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           n_active, cs.n_cohort,
           CAST((1000000 * n_active + cs.n_cohort // 2) // cs.n_cohort
                AS BIGINT) AS retention_micro
    FROM act JOIN cs ON cs.cw = act.cw
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", event_ts("ts").alias("ts")
    )
    uw = ev.select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("wk"),
    ).distinct()
    fw = uw.groupBy("user_id").agg(F.min("wk").alias("cw"))
    act = (
        uw.join(fw.hint("shuffle_hash"), "user_id")
        .select(
            "cw",
            (F.datediff("wk", "cw") / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cw", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    cs = fw.groupBy("cw").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    return (
        act.join(F.broadcast(cs), "cw")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "n_cohort",
            F.expr(
                "(1000000 * n_active + n_cohort div 2) div n_cohort"
            )
            .cast("long")
            .alias("retention_micro"),
        )
    )
