"""Portable distinct-count sketches: K-Minimum-Values and HyperLogLog.

``approx_count_distinct`` exists in both Spark and DuckDB but their
sketches differ, so their estimates can never cross-check. These
implementations derive every sketch register from md5 — bit-identical
in any engine — and keep all sketch state in EXACT integers (the HLL
register sum is a dyadic rational scaled to an integer), so the
DuckDB oracle reproduces the estimate to the last bit: the only
floating-point op is one final IEEE division both engines perform on
identical integers.

Why sketches at 100 TB: exact count-distinct shuffles every distinct
key; a sketch is a constant-size aggregate state per group — the
classic one-pass, mergeable cardinality path. Both operators here are
single hash-aggregations (one shuffle on the group key).

KMV: keep the k smallest 32-bit hash prefixes per group; if the k-th
smallest maps to fraction u = v_k / 2^32 of the hash space, the group
has ≈ (k-1)/u distinct keys. Groups with fewer than k distinct hashes
report the exact count (the sketch IS the distinct set there).

HLL: bucket = first 8 hash bits (m=256 registers), register = leading
-zero-rank rho of the next 32 bits, estimate = alpha_m * m^2 /
sum(2^-register). Empty registers contribute 2^0; the raw estimator
(no low-range ln correction, which would be libm-dependent) is
reported together with n_empty so callers can apply linear counting
themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up

# md5 salts shared by each Spark sketch and its DuckDB ``duck_*`` twin
_KMV_SALT = "kmv"
_HLL_SALT = "hll"
_CMS_SALT = "cms"

_ALPHA_EXPR = "0.7213 / (1.0 + 1.079 / 256.0)"  # alpha_m for m=256
_M = 256
# 2^(33-rho) keeps every register term an exact integer (rho <= 33)
_SCALE = 1 << 33

# bit length of a hex nibble character (for leading-zero rank)
_NIBBLE_BITS = (
    "CASE WHEN {c} IN ('8','9','a','b','c','d','e','f') THEN 4 "
    "WHEN {c} IN ('4','5','6','7') THEN 3 "
    "WHEN {c} IN ('2','3') THEN 2 ELSE 1 END"
)


def _h(col: str, salt: str) -> Column:
    return F.md5(F.concat(F.lit(salt + "|"), F.col(col).cast("string")))


def kmv_distinct_per_group(
    df: DataFrame, group_col: str, key_col: str, k: int = 64
) -> DataFrame:
    """Per-group distinct-count estimate from the k smallest hashes.

    Plan: distinct (group, hash-prefix) pairs -> per-group ascending
    rank (WindowGroupLimit prunes to k per task) -> one row per group.
    Output: (group, n_kept, kmv_est double) where n_kept = min(k,
    distinct) and kmv_est is exact for under-filled sketches.
    """
    from pyspark.sql.window import Window

    hashed = df.select(
        F.col(group_col).alias("g"),
        F.conv(F.substring(_h(key_col, _KMV_SALT), 1, 8), 16, 10).cast("long").alias("v"),
    ).distinct()
    w = Window.partitionBy("g").orderBy(F.col("v").asc())
    kept = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return kept.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max(F.when(F.col("rn") == k, F.col("v"))).alias("vk"),
    ).select(
        F.col("g").alias(group_col),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.when(F.col("vk").isNull(), F.col("n_kept").cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("vk").cast("double")
        ).alias("kmv_est"),
    )


def duck_kmv(table_expr: str, group_col: str, key_col: str, k: int = 64) -> str:
    """DuckDB twin of kmv_distinct_per_group (same output columns)."""
    return f"""
    WITH hashed AS (
      SELECT DISTINCT {group_col} AS g,
             cast(concat('0x', substr(md5(concat('{_KMV_SALT}|', cast({key_col} as varchar))), 1, 8)) as bigint) AS v
      FROM {table_expr}
    ), ranked AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
      FROM hashed
    ), kept AS (SELECT * FROM ranked WHERE rn <= {k})
    SELECT g AS {group_col},
           cast(count(*) AS bigint) AS n_kept,
           CASE WHEN max(CASE WHEN rn = {k} THEN v END) IS NULL
                THEN cast(count(*) AS double)
                ELSE {float(k - 1)} * 4294967296.0
                     / cast(max(CASE WHEN rn = {k} THEN v END) AS double)
           END AS kmv_est
    FROM kept GROUP BY g
    """


def _rho_expr(h32: str) -> str:
    """Leading-zero rank (1-based) of the 32-bit value written as the
    8-hex-char string column ``h32`` — pure string ops, engine-common:
    4 bits per leading '0' nibble, plus the zero bits inside the first
    nonzero nibble, plus 1. All-zero (prob 2^-32) -> 33."""
    stripped = f"regexp_replace({h32}, '^0+', '')"
    first = f"substr({stripped}, 1, 1)"
    bits = _NIBBLE_BITS.format(c=first)
    return (
        f"CASE WHEN {stripped} = '' THEN 33 "
        f"ELSE 4 * (8 - length({stripped})) + (4 - ({bits})) + 1 END"
    )


def hll_registers(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group HLL register table (g, bucket, r): one hash-agg to
    <= m=256 rows per group, r = max leading-zero rank. Registers
    are pure md5 functions, MERGEABLE by max(r) across partitions,
    engines, and incremental batches — the union-of-sets property
    HLL is built on."""
    hashed = df.select(
        F.col(group_col).alias("g"),
        F.substring(_h(key_col, _HLL_SALT), 1, 2).alias("bucket"),
        F.expr(_rho_expr(f"substr(md5(concat('{_HLL_SALT}|', cast({key_col} as string))), 3, 8)"))
        .alias("rho"),
    )
    return hashed.groupBy("g", "bucket").agg(F.max("rho").alias("r"))


def hll_estimate_from_registers(regs: DataFrame, group_col: str) -> DataFrame:
    """The estimator tail over an (g, bucket, r) register table (from
    `hll_registers` or a `merge_hll` store read): exact integer register
    state (s_scaled), raw estimate rounded to 4 dp — the
    `hll_sketch_per_group` output columns."""
    return regs.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr(f"cast(pow(2.0, 33 - r) as bigint)")).alias("s_present"),
    ).select(
        F.col("g").alias(group_col),
        (F.lit(_M) - F.col("n_present")).cast("long").alias("n_empty"),
        (F.col("s_present") + (F.lit(_M) - F.col("n_present")) * F.lit(_SCALE))
        .cast("long").alias("s_scaled"),
    ).withColumn(
        "hll_est",
        # literals via the Python API (DoubleType): F.expr would parse
        # "0.7213" as DECIMAL and change the division's result type.
        # alpha is evaluated in Python with the same IEEE ops DuckDB
        # applies to the textual _ALPHA_EXPR, so the bits agree.
        round_half_up(
            F.lit(0.7213 / (1.0 + 1.079 / 256.0))
            * F.lit(float(_M * _M))
            * F.lit(float(_SCALE))
            / F.col("s_scaled").cast("double"),
            4,
        ),
    )


def hll_sketch_per_group(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group HLL (m=256): one shuffle to (group, bucket) registers,
    one to the group — both hash-aggs with tiny state.

    Output: (group, n_empty, s_scaled, hll_est) — ``s_scaled`` =
    sum(2^(33-register)) as an exact integer (empty registers count
    2^33), ``hll_est`` = alpha*m^2*2^33/s_scaled rounded to 4 dp.
    Composition of `hll_registers` + `hll_estimate_from_registers`,
    so the batch sketch and the incremental register store
    (`merge_hll`) share one arithmetic by construction.
    """
    return hll_estimate_from_registers(
        hll_registers(df, group_col, key_col), group_col
    )


def merge_hll(regs: DataFrame) -> DataFrame:
    """The HLL register-store merge (`stores.BatchStore`): register-wise
    MAX — the union-of-sets property HLL is built on — so a store of
    per-batch `hll_registers` reads and collapses to EXACTLY the registers
    of the concatenated batches. Feed the result to
    `hll_estimate_from_registers`."""
    return regs.groupBy("g", "bucket").agg(F.max("r").alias("r"))


def duck_hll(table_expr: str, group_col: str, key_col: str) -> str:
    """DuckDB twin of hll_sketch_per_group (same output columns)."""
    rho = _rho_expr(f"substr(md5(concat('{_HLL_SALT}|', cast({key_col} as varchar))), 3, 8)")
    return f"""
    WITH hashed AS (
      SELECT {group_col} AS g,
             substr(md5(concat('{_HLL_SALT}|', cast({key_col} as varchar))), 1, 2) AS bucket,
             {rho} AS rho
      FROM {table_expr}
    ), regs AS (
      SELECT g, bucket, max(rho) AS r FROM hashed GROUP BY g, bucket
    ), grouped AS (
      SELECT g, count(*) AS n_present,
             sum(cast(pow(2.0, 33 - r) as bigint)) AS s_present
      FROM regs GROUP BY g
    )
    SELECT g AS {group_col},
           cast({_M} - n_present AS bigint) AS n_empty,
           cast(s_present + ({_M} - n_present) * {_SCALE} AS bigint) AS s_scaled,
           floor(({_ALPHA_EXPR}) * {_M * _M}.0 * {_SCALE}.0
                 / cast(s_present + ({_M} - n_present) * {_SCALE} AS double)
                 * 10000.0 + 0.5) / 10000.0 AS hll_est
    FROM grouped
    """


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------

_CMS_D = 4      # hash rows
_CMS_W = 256    # buckets per row


def _cms_bucket(col: str, row: int) -> Column:
    """Row-``row`` bucket: first 32 md5 bits of 'cms|row|key' mod w."""
    h = F.md5(F.concat(F.lit(f"{_CMS_SALT}|{row}|"), F.col(col).cast("string")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _CMS_W
    ).alias(f"b{row}")


def cms_registers(df: DataFrame, key_col: str) -> DataFrame:
    """Count-Min register table: d x w = 4 x 256 counters.

    One explode (x4) + one hash-agg -> at most 1024 rows regardless of
    input size: THE constant-state frequency summary. Registers are
    pure md5 functions, so they are mergeable across partitions,
    engines, and incremental runs (counts add).
    Output: (row, bucket, cnt).

    Deliberately NO pre-spread of a one-partition input (unlike
    minhash_signatures): 4 md5 over the bare key column is trivial
    per row, and an extra round-robin exchange measured ~2x SLOWER
    than the single-task hash at sf0.1 (0.55 s -> 1.0 s) — the
    map-side partial agg already compacts each input partition to
    <=1024 rows before the only shuffle.
    """
    rows = df.select(
        *[_cms_bucket(key_col, r) for r in range(_CMS_D)]
    )
    stacked = rows.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("row"), F.col(f"b{r}").alias("bucket"))
                for r in range(_CMS_D)
            ])
        ).alias("rb")
    ).select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return stacked.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def cms_estimate(registers: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Point-query the sketch: est(k) = min over rows of register[h_r(k)].

    Guarantees est >= true count (collisions only ADD); expected
    overestimate <= 2N/w per row, and the min over d=4 rows makes a
    large error exponentially unlikely. The register table is <=1024
    rows — always broadcast.
    """
    probes = keys.select(
        key_col, *[_cms_bucket(key_col, r) for r in range(_CMS_D)]
    )
    est = None
    for r in range(_CMS_D):
        reg_r = registers.filter(F.col("row") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("cnt").alias(f"c{r}")
        )
        probes = probes.join(F.broadcast(reg_r), f"b{r}", "left")
    cols = [F.coalesce(F.col(f"c{r}"), F.lit(0)) for r in range(_CMS_D)]
    return probes.select(
        key_col, F.least(*cols).cast("long").alias("cms_est")
    )


def cms_join_size(regs_a: DataFrame, regs_b: DataFrame) -> DataFrame:
    """Join-CARDINALITY estimate from two Count-Min register tables
    over the join key: |A ⋈ B| = Σ_k fA(k)·fB(k), estimated as
    min over hash rows of the per-row register dot product
    Σ_b regA[r][b]·regB[r][b] — the classic CMS inner-product
    estimator (Cormode & Muthukrishnan 2005, public). Always an
    OVERESTIMATE of the true join size (collisions only add mass),
    with expected per-row excess ≤ |A|·|B|/w.

    The planning primitive behind "will this join explode": both
    registers are ≤ d·w = 1024 rows however large the inputs, built
    in one pass each and mergeable across partitions/batches — so a
    pipeline can keep a register per store and price a prospective
    join in O(1) before committing a shuffle (the salt/broadcast
    advisors' missing cost input).

    Products go through DECIMAL(38,0) BEFORE summing (the gram-micro
    cast-before-product rule: two ~1e12-row registers square past
    BIGINT); one tiny (≤1024-row) join + two aggregates. Returns one
    row: (est_join_rows DECIMAL(38,0)).

    The min runs over ALL d hash rows: a row whose register tables
    share no (bucket) mass has dot product 0, so fully disjoint
    inputs return 0 (not NULL) and a single zero-overlap row pins the
    estimate at 0 — the literal d-row frame right-joined below is
    what keeps the documented "min over d rows" honest when the
    register join drops a row entirely (round-10 advice).
    """
    a = regs_a.select(
        "row", "bucket", F.col("cnt").cast("decimal(38,0)").alias("_ca")
    )
    b = regs_b.select(
        "row", "bucket", F.col("cnt").cast("decimal(38,0)").alias("_cb")
    )
    per_row = (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_dot"))
    )
    all_rows = regs_a.sparkSession.range(_CMS_D).select(
        F.col("id").cast("int").alias("row")
    )
    return (
        all_rows.join(F.broadcast(per_row), "row", "left")
        .select(
            F.coalesce(
                F.col("_dot"), F.lit(0).cast("decimal(38,0)")
            ).alias("_dot")
        )
        .agg(F.min("_dot").alias("est_join_rows"))
    )


def cms_register_stats(left_rows, right_rows) -> dict:
    """Join-planning scalars from two COLLECTED Count-Min register
    tables over the join key — iterables of (row, bucket, cnt), e.g.
    the Rows of a `cms_registers` or `merge_cms` frame, each at most
    d·w = 1024 rows however large the input — in pure Python, so
    pricing a join from standing registers schedules no Spark job:

    * ``rows_<side>`` is EXACT — every input row increments exactly
      one bucket per hash row, so any row's register total equals the
      input row count (the min across rows guards a malformed table);
    * ``top_cnt_<side>_ub`` is an UPPER BOUND on the heaviest key's
      count: the heaviest key's cell in each hash row holds at least
      its count, so the min over rows of per-row max cells does too
      (collisions only inflate it — a salting decision from it can
      only over-salt, never miss skew);
    * ``est_join_rows`` is the `cms_join_size` min-dot over ALL d
      rows (a row with no shared bucket dots to 0) — a Python int,
      unbounded like the DECIMAL(38,0) it mirrors.

    An empty table gives 0 for its side. Feed rows_left,
    top_cnt_left_ub and rows_right to `skew.decide_join_strategy`."""
    def side(rows) -> tuple[dict, int, int]:
        cells: dict = {}
        tot_mx: dict[int, list[int]] = {}
        for r, b, c in rows:
            r, c = int(r), int(c)
            cells[(r, int(b))] = cells.get((r, int(b)), 0) + c
            t = tot_mx.setdefault(r, [0, 0])
            t[0] += c
            t[1] = max(t[1], c)
        if not tot_mx:
            return cells, 0, 0
        return (
            cells,
            min(t for t, _ in tot_mx.values()),
            min(m for _, m in tot_mx.values()),
        )

    left, rows_left, top_left = side(left_rows)
    right, rows_right, top_right = side(right_rows)
    dots = [0] * _CMS_D
    for (r, b), c in left.items():
        dots[r] += c * right.get((r, b), 0)
    return {
        "rows_left": rows_left,
        "rows_right": rows_right,
        "top_cnt_left_ub": top_left,
        "top_cnt_right_ub": top_right,
        "est_join_rows": min(dots),
    }


def merge_cms(regs: DataFrame) -> DataFrame:
    """The CMS register-store merge (`stores.BatchStore`, marker
    `stores.CMS_HORIZON`): counts are ADDITIVE, so a store of per-batch
    `cms_registers` reads — and collapses — as their register SUM, equal
    to `cms_registers` over the concatenated batches. Sum-at-read is what
    makes the store replay-safe: read-modify-add would count a replayed
    batch twice under foreachBatch's at-least-once delivery."""
    return regs.groupBy("row", "bucket").agg(F.sum("cnt").cast("long").alias("cnt"))


def duck_cms(table_expr: str, key_col: str) -> str:
    """DuckDB twin: registers + per-key min-probe in one query.

    Returns (key, cms_est) for every distinct key in ``table_expr``.
    """
    def bucket(row: int, col: str) -> str:
        return (
            f"cast(concat('0x', substr(md5(concat('{_CMS_SALT}|{row}|', "
            f"cast({col} as varchar))), 1, 8)) as bigint) % {_CMS_W}"
        )

    unions = " UNION ALL ".join(
        f"SELECT {r} AS row, {bucket(r, key_col)} AS bucket FROM {table_expr}"
        for r in range(_CMS_D)
    )
    mins = ", ".join(
        f"(SELECT coalesce(max(cnt), 0) FROM regs WHERE row = {r} AND bucket = p.b{r})"
        for r in range(_CMS_D)
    )
    return f"""
    WITH regs AS (
      SELECT row, bucket, cast(count(*) AS bigint) AS cnt
      FROM ({unions}) GROUP BY row, bucket
    ), pk AS (
      SELECT DISTINCT {key_col} FROM {table_expr}
    ), p AS (
      SELECT {key_col}, {', '.join(f'{bucket(r, key_col)} AS b{r}' for r in range(_CMS_D))}
      FROM pk
    )
    SELECT {key_col}, cast(least({mins}) AS bigint) AS cms_est
    FROM p
    """


# ---------------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------------

def histogram_registers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Equi-width histogram registers per group: <= ``bins`` counters —
    the constant-state, mergeable quantile summary (exact percentiles
    sort every row of the group; this is one hash-agg). Out-of-range
    values clamp into the edge bins. Output: (group, bin, cnt).
    """
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor((F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(width))
            .cast("long"),
        ),
    )
    return df.groupBy(F.col(group_col).alias("g"), b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def histogram_quantile(
    arr: Column, n: Column, p: float, lo: float, width: float
) -> Column:
    """Quantile estimate from a SORTED array of (bin, cnt) structs.

    Sequential fold (F.aggregate) over <= bins elements: find the
    first bin where the running count crosses t = p*n, interpolate
    within it — ``lo + (bin + (t - cum_before)/cnt) * width``. The
    identical left-to-right arithmetic runs in the DuckDB twin, so
    the doubles agree bit-for-bit.
    """
    t = F.lit(p) * n.cast("double")
    return F.aggregate(
        arr,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(-1.0).alias("res")
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["cnt"]).alias("cum"),
            F.when(
                (acc["res"] < 0)
                & ((acc["cum"] + x["cnt"]).cast("double") >= t),
                F.lit(float(lo))
                + (
                    x["bin"].cast("double")
                    + (t - acc["cum"].cast("double")) / x["cnt"].cast("double")
                )
                * F.lit(float(width)),
            )
            .otherwise(acc["res"])
            .alias("res"),
        ),
        lambda acc: acc["res"],
    )
