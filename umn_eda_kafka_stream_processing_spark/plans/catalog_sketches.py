"""Distinct-count sketch catalog queries (KMV + HyperLogLog).

Unlike ``approx_count_distinct`` (whose sketch differs per engine and
can never cross-check), these sketches are pure functions of md5, so
Spark and DuckDB compute the SAME registers and the SAME estimate —
the oracle matches the estimates bit-for-bit, not within a tolerance.
Each query also carries the exact distinct count so the estimate's
error is visible in the output itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up
from umn_eda_kafka_stream_processing_spark.operators import sketches as sk
from umn_eda_kafka_stream_processing_spark.plans.registry import register as _register
from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

_ROUND4 = "floor({x} * 10000.0 + 0.5) / 10000.0"


@_register(
    "sketch_kmv_users_by_type",
    "Per-event-type distinct-user estimate from a 64-minimum-values md5 "
    "sketch (operators/sketches.py:kmv_distinct_per_group) next to the "
    "exact count — the estimate matches DuckDB bit-for-bit because the "
    "sketch is a pure md5 function and the only FP op is one IEEE "
    "division of identical integers.",
    f"""
    WITH kmv AS ({sk.duck_kmv('events', 'event_type', 'user_id', k=64)}),
    exact AS (
      SELECT event_type, cast(count(DISTINCT user_id) AS bigint) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT k.event_type, k.n_kept,
           {_ROUND4.format(x='k.kmv_est')} AS kmv_est,
           e.exact_distinct
    FROM kmv k JOIN exact e USING (event_type)
    """,
)
def sketch_kmv_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    est = sk.kmv_distinct_per_group(ev, "event_type", "user_id", k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_kept",
        round_half_up(F.col("kmv_est"), 4).alias("kmv_est"),
        "exact_distinct",
    )


@_register(
    "sketch_hll_users_by_type",
    "Per-event-type HyperLogLog (m=256) distinct-user estimate with "
    "EXACT integer register state (sum 2^(33-rho) scaled; operators/"
    "sketches.py:hll_sketch_per_group) — raw estimator without the "
    "libm-dependent ln() low-range correction; n_empty lets callers "
    "apply linear counting themselves.",
    f"""
    WITH hll AS ({sk.duck_hll('events', 'event_type', 'user_id')}),
    exact AS (
      SELECT event_type, cast(count(DISTINCT user_id) AS bigint) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT h.event_type, h.n_empty, h.s_scaled, h.hll_est, e.exact_distinct
    FROM hll h JOIN exact e USING (event_type)
    """,
)
def sketch_hll_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    est = sk.hll_sketch_per_group(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_empty", "s_scaled", "hll_est", "exact_distinct"
    )


@_register(
    "incremental_hll_user_census",
    "Incrementally-maintained distinct-count sketch (operators/"
    "sketches.py:hll_registers/merge_hll in a stores.BatchStore — the "
    "distinct twin of the CMS register store): three event "
    "microbatches (event_id % 3) land per-batch HLL registers keyed "
    "(batch_id, g, bucket) latest-wins; the merged sketch is the "
    "register-wise MAX across batches, which equals the from-scratch "
    "batch sketch EXACTLY (HLL merge is set union) — so the oracle "
    "is the same duck_hll twin the batch query uses, plus the exact "
    "distinct count and the replayed batch pinned by store row "
    "identity (an inflated register would shift s_scaled).",
    f"""
    WITH hll AS ({sk.duck_hll('events', 'event_type', 'user_id')}),
    exact AS (
      SELECT event_type, cast(count(DISTINCT user_id) AS bigint) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT h.event_type, h.n_empty, h.s_scaled, h.hll_est,
           e.exact_distinct
    FROM hll h JOIN exact e USING (event_type)
    """,
)
def incremental_hll_user_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    store = BatchStore(
        spark, tempfile.mkdtemp(prefix="sparkgraft_hllstore_") + "/store",
        sk.merge_hll,
    )
    for b in range(3):
        store.upsert(b, sk.hll_registers(
            ev.where(F.col("event_id") % 3 == b), "event_type", "user_id"
        ))
    # replay batch 1: batch-keyed no-op (a double-count would shift
    # every s_scaled below and hash-mismatch)
    store.upsert(1, sk.hll_registers(
        ev.where(F.col("event_id") % 3 == 1), "event_type", "user_id"
    ))
    est = sk.hll_estimate_from_registers(store.read(), "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_empty", "s_scaled", "hll_est", "exact_distinct"
    )


@_register(
    "sketch_cms_heavy_users",
    "Count-Min frequency sketch (d=4 x w=256 registers — constant state "
    "at any input size; operators/sketches.py:cms_registers/cms_estimate) "
    "probed for the 20 heaviest users: cms_est >= exact always "
    "(collisions only add); registers broadcast to the probe join.",
    f"""
    WITH cms AS ({sk.duck_cms('events', 'user_id')}),
    exact AS (
      SELECT user_id, cast(count(*) AS bigint) AS exact_cnt
      FROM events GROUP BY user_id
    ), top AS (
      SELECT user_id, exact_cnt,
             row_number() OVER (ORDER BY exact_cnt DESC, user_id) AS rank
      FROM exact QUALIFY rank <= 20
    )
    SELECT t.rank, t.user_id, t.exact_cnt, c.cms_est
    FROM top t JOIN cms c USING (user_id)
    """,
)
def sketch_cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    top = global_topk(exact, [("exact_cnt", False), ("user_id", True)], 20)
    regs = sk.cms_registers(ev, "user_id")
    est = sk.cms_estimate(regs, top.select("user_id"), "user_id")
    return top.join(est, "user_id").select(
        F.col("rank").cast("long").alias("rank"), "user_id", "exact_cnt", "cms_est"
    )


_H_LO, _H_HI, _H_BINS = 0.0, 1000.0, 256
_H_W = (_H_HI - _H_LO) / _H_BINS  # 3.90625 — exactly representable


def _duck_hist_quantile(p: str, alias: str) -> str:
    """First bin whose running count crosses t = p*n, interpolated with
    the same left-to-right arithmetic as the Spark fold."""
    return f"""
    {alias} AS (
      SELECT event_type,
             {_H_LO} + (cast(bin AS DOUBLE)
                        + ({p} * cast(n AS DOUBLE) - cast(cum_before AS DOUBLE))
                          / cast(cnt AS DOUBLE)) * {_H_W} AS v
      FROM c JOIN n USING (event_type)
      WHERE cast(cum_before + cnt AS DOUBLE) >= {p} * cast(n AS DOUBLE)
      QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY bin) = 1
    )"""


@_register(
    "sketch_histogram_quantiles",
    "Quantiles from a 256-bin equi-width histogram sketch per event "
    "type (operators/sketches.py:histogram_registers/histogram_quantile) "
    "— constant mergeable state vs the full per-group sort exact "
    "percentiles need; estimates land within one bin width (3.90625) "
    "of exact, and the fold arithmetic matches DuckDB bit-for-bit.",
    f"""
    WITH b AS (
      SELECT event_type,
             least({_H_BINS - 1}, greatest(0,
               cast(floor((cast(value AS DOUBLE) - {_H_LO}) / {_H_W}) AS bigint))) AS bin,
             cast(count(*) AS bigint) AS cnt
      FROM events GROUP BY 1, 2
    ), n AS (
      SELECT event_type, sum(cnt) AS n FROM b GROUP BY 1
    ), c AS (
      SELECT event_type, bin, cnt,
             coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM b
    ), {_duck_hist_quantile('0.5', 'q50')},
    {_duck_hist_quantile('0.95', 'q95')},
    {_duck_hist_quantile('0.99', 'q99')}
    SELECT n.event_type,
           cast(n.n AS bigint) AS n,
           floor(q50.v * 10000.0 + 0.5) / 10000.0 AS est_p50,
           floor(q95.v * 10000.0 + 0.5) / 10000.0 AS est_p95,
           floor(q99.v * 10000.0 + 0.5) / 10000.0 AS est_p99
    FROM n JOIN q50 USING (event_type) JOIN q95 USING (event_type)
           JOIN q99 USING (event_type)
    """,
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    regs = sk.histogram_registers(ev, "event_type", "value", _H_LO, _H_HI, _H_BINS)
    packed = regs.groupBy("g").agg(
        F.sum("cnt").alias("n"),
        F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("arr"),
    )
    return packed.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("long").alias("n"),
        *[
            round_half_up(
                sk.histogram_quantile(F.col("arr"), F.col("n"), p, _H_LO, _H_W), 4
            ).alias(a)
            for p, a in [(0.5, "est_p50"), (0.95, "est_p95"), (0.99, "est_p99")]
        ],
    )


def _duck_cms_regs(table_expr: str, key_expr: str, name: str) -> str:
    """Register-table CTE text for cms_join_size's oracle: the same
    d x w md5 bucketing as operators/sketches.py:cms_registers."""
    unions = " UNION ALL ".join(
        f"SELECT {r} AS row, "
        f"cast(concat('0x', substr(md5(concat('cms|{r}|', "
        f"cast({key_expr} as varchar))), 1, 8)) as bigint) % {sk._CMS_W}"
        f" AS bucket FROM {table_expr}"
        for r in range(sk._CMS_D)
    )
    return (
        f"{name} AS (SELECT row, bucket, cast(count(*) AS bigint) AS cnt "
        f"FROM ({unions}) GROUP BY row, bucket)"
    )


def _duck_advise_case(
    label: str, key_l: str, key_r: str, max_bc: int, max_share: int
) -> str:
    """One advisor decision as SQL text over the per-case register
    CTEs ra_<label>/rb_<label> — the identical integer arithmetic as
    sketches.cms_register_stats + skew.decide_join_strategy (rows =
    min over hash rows of register totals, exact; top ub = min over
    rows of max cell; share = round-half-up ppm via BIGINT //; est =
    min over ALL d rows of the dot product, missing rows 0)."""
    return f"""
    SELECT '{label}' AS case_name,
           CAST(rows_left AS BIGINT) AS rows_left,
           CAST(rows_right AS BIGINT) AS rows_right,
           CAST(top_cnt_left_ub AS BIGINT) AS top_cnt_left_ub,
           CAST(top_cnt_right_ub AS BIGINT) AS top_cnt_right_ub,
           CAST(CASE WHEN rows_left = 0 THEN 0 ELSE
             (1000000 * top_cnt_left_ub + rows_left // 2) // rows_left
           END AS BIGINT) AS share_left_micro_ub,
           CAST(est_join_rows AS BIGINT) AS est_join_rows,
           CASE WHEN rows_right <= {max_bc} THEN 'broadcast'
                WHEN (CASE WHEN rows_left = 0 THEN 0 ELSE
                      (1000000 * top_cnt_left_ub + rows_left // 2)
                      // rows_left END) > {max_share}
                     THEN 'salted_shuffle_hash'
                ELSE 'shuffle_hash' END AS strategy
    FROM (
      SELECT (SELECT coalesce(min(tot), 0) FROM (SELECT sum(cnt) AS tot
              FROM ra_{label} GROUP BY row)) AS rows_left,
             (SELECT coalesce(min(mx), 0) FROM (SELECT max(cnt) AS mx
              FROM ra_{label} GROUP BY row)) AS top_cnt_left_ub,
             (SELECT coalesce(min(tot), 0) FROM (SELECT sum(cnt) AS tot
              FROM rb_{label} GROUP BY row)) AS rows_right,
             (SELECT coalesce(min(mx), 0) FROM (SELECT max(cnt) AS mx
              FROM rb_{label} GROUP BY row)) AS top_cnt_right_ub,
             (SELECT min(dot) FROM (
                SELECT rr.row, coalesce(o.dot, 0) AS dot
                FROM (SELECT 0 AS row UNION ALL SELECT 1
                      UNION ALL SELECT 2 UNION ALL SELECT 3) rr
                LEFT JOIN (SELECT a.row, sum(a.cnt * b.cnt) AS dot
                           FROM ra_{label} a JOIN rb_{label} b
                             ON a.row = b.row AND a.bucket = b.bucket
                           GROUP BY a.row) o ON o.row = rr.row
             )) AS est_join_rows
    )
    """


_ADVISE_CASES = [
    # (label, left table, left key, right table, right key,
    #  max_broadcast_rows, max_share_micro)
    ("customer_nation", "customer", "c_nationkey", "nation",
     "n_nationkey", 1_000_000, 50_000),
    ("events_by_type", "events", "event_type", "orders",
     "o_orderkey", 1_000, 50_000),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders",
     "o_orderkey", 1_000, 50_000),
]


@_register(
    "join_strategy_advisor_census",
    "The advisor loop CLOSED over standing sketches (operators/"
    "skew.py:decide_join_strategy over sketches.cms_register_stats): "
    "three prospective joins priced and planned ENTIRELY from "
    "collected Count-Min register tables (<=1024 rows each) — exact "
    "per-side row counts (any hash row's register total), a conservative upper bound on the heaviest key (min "
    "over rows of max cell — can only over-salt, never miss skew), "
    "and the Cormode-Muthukrishnan min-dot join-size overestimate; "
    "ZERO planning jobs touch the data, and the decision itself is "
    "driver-side Python. The three cases land one in each decision "
    "branch: nation is provably broadcastable, "
    "events.event_type's ~20% top-key share exceeds the 5% salting "
    "bar, lineitem x orders pins shuffle_hash. Oracle rebuilds every "
    "register from the same md5 text and re-derives the identical "
    "BIGINT decision arithmetic.",
    "WITH "
    + ",\n    ".join(
        _duck_cms_regs(tbl, key, f"{pre}_{label}")
        for label, tl, kl, tr, kr, _, _ in _ADVISE_CASES
        for pre, tbl, key in (("ra", tl, kl), ("rb", tr, kr))
    )
    + "\n"
    + "\nUNION ALL\n".join(
        _duck_advise_case(label, kl, kr, mb, ms)
        for label, tl, kl, tr, kr, mb, ms in _ADVISE_CASES
    ),
)
def join_strategy_advisor_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
    )

    def regs(tbl: str, col: str) -> list:
        return sk.cms_registers(
            load_table(spark, sf_dir, tbl).select(F.col(col).alias("k")),
            "k",
        ).collect()

    rows = []
    for label, tl, kl, tr, kr, mb, ms in _ADVISE_CASES:
        s = sk.cms_register_stats(regs(tl, kl), regs(tr, kr))
        d = decide_join_strategy(
            s["rows_left"], s["top_cnt_left_ub"], s["rows_right"],
            max_broadcast_rows=mb, max_share_micro=ms,
        )
        rows.append((
            label, s["rows_left"], s["rows_right"], s["top_cnt_left_ub"],
            s["top_cnt_right_ub"], d["share_left_micro_ub"],
            # est is unbounded in Python (DECIMAL(38,0) at 1e12-row
            # registers); these test tables are nowhere near the
            # BIGINT edge, and the oracle sums in BIGINT
            s["est_join_rows"], d["strategy"],
        ))
    # one partition: the decided rows are driver-side already
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "case_name string, rows_left long, rows_right long, "
        "top_cnt_left_ub long, top_cnt_right_ub long, "
        "share_left_micro_ub long, est_join_rows long, strategy string",
    )


@_register(
    "sketch_advised_join_totals",
    "The sketch-planning loop END-TO-END (operators/skew.py:"
    "decide_join_strategy -> join_with_strategy): Count-Min registers "
    "over both join keys price the orders x customer join, the "
    "collected registers decide the strategy (broadcast here — "
    "customer is provably small), and join_with_strategy executes "
    "that exact physical shape with zero planning jobs on the data. "
    "The RESULT is strategy-invariant (property-tested across all "
    "three strategies), so the oracle is just the plain SQL join — "
    "per-nation order counts and exact integer cent totals (money "
    "sums never ride doubles cross-engine).",
    """
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def sketch_advised_join_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
        join_with_strategy,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    stats = sk.cms_register_stats(
        sk.cms_registers(orders.select("c_custkey"), "c_custkey").collect(),
        sk.cms_registers(cust.select("c_custkey"), "c_custkey").collect(),
    )
    decision = stats | decide_join_strategy(
        stats["rows_left"], stats["top_cnt_left_ub"], stats["rows_right"]
    )
    joined = join_with_strategy(orders, cust, "c_custkey", decision)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
        ).cast("long").alias("revenue_cents"),
    )


_ADV_PIPE_MAX_BC = "(SELECT count(*) // 2 FROM customer)"
_ADV_PIPE_MAX_SHARE = 200_000
_ADV_PIPE_F2_KEY = (
    "CASE WHEN o_orderkey % 4 <> 3 THEN 1 ELSE o_custkey END"
)


@_register(
    "advised_enrichment_pipeline_census",
    "The sketch-advised join running INSIDE a pipeline end-to-end "
    "(streaming/advised.py — the round-11 verdict's missing "
    "consumer): three dim deltas (customer thirds by custkey % 3) "
    "and three fact batches (orders thirds by orderkey % 3) flow "
    "through the foreachBatch pair — dim batches upsert the "
    "snapshot + right CMS registers, fact batches upsert left "
    "registers, collect the one-row decision from the standing "
    "sketches (ZERO planning jobs on data), and execute the "
    "enrichment via join_with_strategy. The decision FLIPS as the "
    "stores evolve: batch 0 broadcasts (dim third < half the "
    "customer count), batch 1 pins shuffle_hash (dim outgrew the "
    "bar), batch 2 salts (75% of its planted custkeys collapse to "
    "key 1, pushing the cumulative top-share past 20%). Fact batch "
    "2 is REPLAYED before reading: the batch-partitioned output "
    "rewrites and the latest-wins decision log no-ops, so the "
    "per-batch join_rows/revenue pins replay safety as data. "
    "Oracle rebuilds every register PREFIX from the same md5 text, "
    "re-derives the identical BIGINT decision arithmetic, and "
    "recomputes each batch's join against the dim as of that batch "
    "(results are strategy-invariant — join_with_strategy's "
    "property-tested contract).",
    "WITH f0 AS (SELECT o_custkey AS k, o_totalprice FROM orders "
    "WHERE o_orderkey % 3 = 0),\n"
    "f1 AS (SELECT o_custkey AS k, o_totalprice FROM orders "
    "WHERE o_orderkey % 3 = 1),\n"
    f"f2 AS (SELECT {_ADV_PIPE_F2_KEY} AS k, o_totalprice FROM orders "
    "WHERE o_orderkey % 3 = 2),\n    "
    + ",\n    ".join(
        [
            _duck_cms_regs("(SELECT k FROM f0)", "k", "ra_b0"),
            _duck_cms_regs(
                "(SELECT k FROM f0 UNION ALL SELECT k FROM f1)",
                "k",
                "ra_b1",
            ),
            _duck_cms_regs(
                "(SELECT k FROM f0 UNION ALL SELECT k FROM f1 "
                "UNION ALL SELECT k FROM f2)",
                "k",
                "ra_b2",
            ),
            _duck_cms_regs(
                "(SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)",
                "c_custkey",
                "rb_b0",
            ),
            _duck_cms_regs(
                "(SELECT c_custkey FROM customer WHERE c_custkey % 3 <= 1)",
                "c_custkey",
                "rb_b1",
            ),
            _duck_cms_regs(
                "(SELECT c_custkey FROM customer)", "c_custkey", "rb_b2"
            ),
        ]
    )
    + ",\n    dec AS ("
    + "\nUNION ALL\n".join(
        _duck_advise_case(
            f"b{b}", "k", "c_custkey", _ADV_PIPE_MAX_BC, _ADV_PIPE_MAX_SHARE
        )
        for b in range(3)
    )
    + """),
    j AS (
      SELECT 0 AS bid, CAST(count(*) AS BIGINT) AS join_rows,
             CAST(sum(CAST(floor(f.o_totalprice * 100.0 + 0.5)
                  AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM f0 f JOIN customer c
        ON c.c_custkey = f.k AND c.c_custkey % 3 = 0
      UNION ALL
      SELECT 1, CAST(count(*) AS BIGINT),
             CAST(sum(CAST(floor(f.o_totalprice * 100.0 + 0.5)
                  AS BIGINT)) AS BIGINT)
      FROM f1 f JOIN customer c
        ON c.c_custkey = f.k AND c.c_custkey % 3 <= 1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT),
             CAST(sum(CAST(floor(f.o_totalprice * 100.0 + 0.5)
                  AS BIGINT)) AS BIGINT)
      FROM f2 f JOIN customer c ON c.c_custkey = f.k
    )
    SELECT CAST(substr(dec.case_name, 2) AS BIGINT) AS batch_id,
           dec.strategy,
           dec.rows_left,
           dec.rows_right,
           dec.share_left_micro_ub,
           dec.est_join_rows,
           j.join_rows,
           j.revenue_cents
    FROM dec JOIN j ON j.bid = CAST(substr(dec.case_name, 2) AS BIGINT)
    """,
)
def advised_enrichment_pipeline_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.streaming.advised import (
        make_advised_enrichment_batch_fn,
        make_dim_changelog_batch_fn,
        read_decisions,
    )

    root = tempfile.mkdtemp(prefix="sparkgraft_advpipe_")
    cust = load_table(spark, sf_dir, "customer")
    n_cust = cust.count()
    dim_fn = make_dim_changelog_batch_fn(
        spark,
        dim_snapshot_path=f"{root}/dim",
        regs_path=f"{root}/rregs",
        key_cols="k",
    )
    fact_fn = make_advised_enrichment_batch_fn(
        spark,
        dim_snapshot_path=f"{root}/dim",
        left_regs_path=f"{root}/lregs",
        right_regs_path=f"{root}/rregs",
        out_path=f"{root}/out",
        decisions_path=f"{root}/decisions",
        on="k",
        max_broadcast_rows=n_cust // 2,
        max_share_micro=_ADV_PIPE_MAX_SHARE,
        salt_buckets=8,
    )
    orders = load_table(spark, sf_dir, "orders")

    def facts(b: int) -> DataFrame:
        f = orders.filter(F.col("o_orderkey") % 3 == b)
        key = (
            F.expr(_ADV_PIPE_F2_KEY) if b == 2 else F.col("o_custkey")
        )
        return f.select(key.cast("long").alias("k"), "o_totalprice")

    for b in range(3):
        dim_fn(
            cust.filter(F.col("c_custkey") % 3 == b).select(
                F.col("c_custkey").alias("k"), "c_nationkey"
            ),
            b,
        )
        fact_fn(facts(b), b)
    # replay the LAST fact batch (the Structured Streaming replay
    # shape): output partition rewrites, decision log no-ops — the
    # per-batch join_rows below pin both
    fact_fn(facts(2), 2)

    per_batch = (
        spark.read.parquet(f"{root}/out")
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("join_rows"),
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("revenue_cents"),
        )
    )
    return read_decisions(spark, f"{root}/decisions").join(
        per_batch, "batch_id"
    ).select(
        "batch_id",
        "strategy",
        "rows_left",
        "rows_right",
        "share_left_micro_ub",
        # the log keeps est DECIMAL(38,0) (generic consumer); this
        # census KNOWS its scale — cast to match the BIGINT oracle
        F.col("est_join_rows").cast("long").alias("est_join_rows"),
        "join_rows",
        "revenue_cents",
    )


@_register(
    "cms_join_size_census",
    "Join-cardinality estimate from two Count-Min register tables "
    "(operators/sketches.py:cms_join_size — the CMS inner-product "
    "estimator, Cormode & Muthukrishnan 2005): est |orders ⋈ "
    "customer on custkey| = min over hash rows of the register dot "
    "product, next to the exact join count so the (always >= exact) "
    "overestimate is visible in the output. The planning primitive "
    "behind 'will this join explode': registers are <=1024 rows "
    "however large the inputs, one pass each, mergeable across "
    "batches — a pipeline can price a prospective join in O(1) "
    "before committing the shuffle (the advisor family's cost "
    "input). Products cast DECIMAL(38,0) before summing (the "
    "cast-before-product rule); oracle rebuilds both register "
    "tables from the same md5 text and pins the identical min-dot.",
    f"""
    WITH {_duck_cms_regs('orders', 'o_custkey', 'ra')},
    {_duck_cms_regs('customer', 'c_custkey', 'rb')},
    overlap AS (
      SELECT ra.row, sum(ra.cnt * rb.cnt) AS dot
      FROM ra JOIN rb ON ra.row = rb.row AND ra.bucket = rb.bucket
      GROUP BY ra.row
    ),
    -- min over ALL d hash rows: a zero-overlap row contributes 0
    -- (the operator right-joins its literal d-row frame the same way)
    dots AS (
      SELECT rr.row, coalesce(o.dot, 0) AS dot
      FROM (SELECT 0 AS row UNION ALL SELECT 1
            UNION ALL SELECT 2 UNION ALL SELECT 3) rr
      LEFT JOIN overlap o ON o.row = rr.row
    ),
    exact AS (
      SELECT cast(count(*) AS bigint) AS exact_rows
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT cast((SELECT min(dot) FROM dots) AS bigint) AS est_join_rows,
           exact_rows,
           cast(CASE WHEN (SELECT min(dot) FROM dots) >= exact_rows
                THEN 1 ELSE 0 END AS bigint) AS overestimate_ok
    FROM exact
    """,
)
def cms_join_size_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    est = sk.cms_join_size(
        sk.cms_registers(orders, "k"), sk.cms_registers(cust, "k")
    ).select(F.col("est_join_rows").cast("long").alias("est_join_rows"))
    exact = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_rows"))
    )
    return est.crossJoin(exact).select(
        "est_join_rows",
        "exact_rows",
        (F.col("est_join_rows") >= F.col("exact_rows"))
        .cast("long")
        .alias("overestimate_ok"),
    )
