"""Bloom-filter pre-join (runtime filter) — the shuffle-volume killer
for selective fact⋈dim joins at 100 TB.

When the build side of a join is selective (e.g. urgent orders only),
most probe-side rows will not find a match — yet a plain hash join
still shuffles ALL of them. Spark's own runtime row-group filtering
(spark.sql.optimizer.runtime.bloomFilter.enabled) does this opaquely;
this operator makes the technique explicit and AUDITABLE: the bloom
bits are derived from md5 (bit-identical in any engine), so a DuckDB
oracle can rebuild the exact same filter and verify the pruned-row
census, including the false-positive count the bloom admits.

Layout: ``m_bits`` bit positions packed into 32-bit words (32, not
64: DuckDB's ``<<`` is overflow-checked, so bit 63 of a BIGINT word
is unusable there; 32-bit words keep every word positive and every
shift <= 31 in both engines). Position i of a key is the first 32
md5 bits of ``"{salt}{i}|{key}"`` mod m_bits.

The built filter is m_bits/32 longs — a few hundred bytes — and is
inlined as a literal array into the probe-side predicate (exactly
what Spark's driver-coordinated runtime filters do), so the pruning
is a narrow whole-stage-codegen filter BEFORE any exchange.

Reference scope note: the reference app joins streams to small
tables (broadcast territory); this family targets the fact⋈selective
-fact shape the builder brief's 100 TB mandate adds.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.stores import BatchStore

WORD_BITS = 32
# filter shape and md5 salts shared by the Spark operators, their
# driver-side twins and the DuckDB twin (`duck_bloom_ctes`)
M_BITS = 4096
K_HASHES = 3
BLOOM_SALT = "bloom"    # the join pre-filter (bloom_build)
PBLOOM_SALT = "pbloom"  # the partition index (partition_bloom_index)


def _positions(key: Column, m_bits: int, k_hashes: int, salt: str) -> list[Column]:
    """k bloom bit positions for a key: first 32 md5 bits of
    '{salt}{i}|{key}' mod m_bits (always non-negative)."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}{i}|"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m_bits
        for i in range(k_hashes)
    ]


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = M_BITS, k_hashes: int = K_HASHES
) -> list[int]:
    """Build the filter: distinct keys → k positions each → per-word
    bit_or — `partition_bloom_index` over one constant partition. One
    distinct + one tiny agg; only m_bits/32 longs reach the driver
    (the same driver-coordination Spark's built-in runtime filter
    uses). Returns the dense word list."""
    rows = partition_bloom_index(
        df.withColumn("_p", F.lit(0)), "_p", key_col, m_bits, k_hashes,
        BLOOM_SALT,
    ).collect()
    words = [0] * (m_bits // WORD_BITS)
    for r in rows:
        words[r["w"]] = int(r["bits"])
    return words


def bloom_might_contain(
    key: Column | str,
    words: list[int],
    m_bits: int = M_BITS,
    k_hashes: int = K_HASHES,
) -> Column:
    """Membership predicate over the literal word array: all k bits
    set. Pure JVM expressions — prunes before any exchange."""
    key = F.col(key) if isinstance(key, str) else key
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    checks = []
    for pos in _positions(key, m_bits, k_hashes, BLOOM_SALT):
        word = F.element_at(arr, (pos / WORD_BITS).cast("int") + F.lit(1))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % WORD_BITS).cast("int")
        )
        checks.append(word.bitwiseAND(mask) != 0)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def duck_bloom_ctes(build_sql: str) -> str:
    """DuckDB twin of bloom_build as CTE text: ``bwords`` (w, bits)
    from the distinct keys of ``build_sql`` (one varchar column named
    kk). Probe sides join per-position and demand count = k."""
    return f"""bkeys AS (SELECT DISTINCT kk FROM ({build_sql})),
    bpos AS (SELECT cast(concat('0x', substr(md5(concat('{BLOOM_SALT}', i, '|', kk)), 1, 8)) AS BIGINT) % {M_BITS} AS pos
             FROM bkeys CROSS JOIN (SELECT unnest(range(0, {K_HASHES})) AS i)),
    bwords AS (SELECT CAST(pos // {WORD_BITS} AS INT) AS w,
                      bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS bits
               FROM bpos GROUP BY 1)"""


def partition_bloom_index(
    df: DataFrame,
    part_col: str,
    key_col: str,
    m_bits: int = M_BITS,
    k_hashes: int = K_HASHES,
    salt: str = PBLOOM_SALT,
) -> DataFrame:
    """PARTITION-LEVEL bloom index — the point-lookup complement to
    the zone map (`compaction.zonemap_select`): zone maps skip files
    by RANGE on the sort key; a per-partition bloom skips them by
    EQUALITY on any high-cardinality column the layout is NOT sorted
    on (the Iceberg/Hive bloom-column idea, expressed as auditable
    data).

    Returns (part_col, w, bits): for each partition value, the
    ``m_bits``-bit filter over its distinct ``key_col`` values packed
    into 32-bit words — |parts| x m_bits/32 rows, a storable index
    table. Built in ONE distinct + one hash-agg over a column-pruned
    scan; the md5-derived positions are bit-identical in any engine,
    so an oracle can rebuild the exact same index.

    No false negatives ever (a partition holding the key always
    passes), so pruned point reads are lossless by construction; the
    census pins the false-positive count the filter admits.
    """
    if m_bits % WORD_BITS:
        raise ValueError(f"m_bits {m_bits} not a multiple of {WORD_BITS}")
    keys = df.select(
        F.col(part_col).alias("_p"),
        F.col(key_col).cast("string").alias("_k"),
    ).distinct()
    pos = keys.select(
        "_p",
        F.explode(
            F.array(*_positions(F.col("_k"), m_bits, k_hashes, salt))
        ).alias("pos"),
    )
    return (
        pos.select(
            "_p",
            (F.col("pos") / WORD_BITS).cast("int").alias("w"),
            (F.col("pos") % WORD_BITS).cast("int").alias("b"),
        )
        .groupBy("_p", "w")
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.col("b")
                )
            ).alias("bits")
        )
        .select(F.col("_p").alias(part_col), "w", "bits")
    )


def py_bloom_positions(
    value, m_bits: int = M_BITS, k_hashes: int = K_HASHES
) -> list[int]:
    """Driver-side twin of ``_positions`` (hashlib md5 == any
    engine's md5): the probe side of a point lookup is ONE value, so
    its k positions are a plan-time scalar, not a job."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{PBLOOM_SALT}{i}|{value}".encode()).hexdigest()[:8],
            16,
        )
        % m_bits
        for i in range(k_hashes)
    ]


def partition_bloom_select(
    index_rows,
    value,
    part_col: str,
    m_bits: int = M_BITS,
) -> list:
    """Partitions whose bloom MAY contain ``value`` — the bounded
    plan-time selection (collected index rows in, partition values
    out; feeds a partition-pruned read). A partition passes iff every
    required word has all its required bits set (`bloom_needed_words`)."""
    need = bloom_needed_words(value, m_bits)
    have: dict = {}
    for r in index_rows:
        have.setdefault(r[part_col], {})[r["w"]] = r["bits"]
    return sorted(
        p
        for p, words in have.items()
        if all(words.get(w, 0) & m == m for w, m in need.items())
    )


def bloom_needed_words(
    value, m_bits: int = M_BITS, k_hashes: int = K_HASHES
) -> dict[int, int]:
    """The probe's word→mask requirement map: for each 32-bit word
    the value's k positions touch, the OR of their bit masks (two
    positions can share a word). Plan-time scalar — one value, at
    most k entries."""
    need: dict[int, int] = {}
    for pos in py_bloom_positions(value, m_bits, k_hashes):
        w, b = pos // WORD_BITS, pos % WORD_BITS
        need[w] = need.get(w, 0) | (1 << b)
    return need


def partition_bloom_select_df(
    index_df: DataFrame,
    value,
    part_col: str,
    m_bits: int = M_BITS,
    k_hashes: int = K_HASHES,
) -> list:
    """Partitions whose bloom MAY contain ``value`` — the DISTRIBUTED
    selection path (the 100×-scale twin of `partition_bloom_select`,
    which collects the whole index): a probe needs at most k_hashes
    specific words per partition, so the index is filtered to those
    words FIRST (`w IN (...)` — pushdown-eligible when the index is a
    stored table), each surviving row is tested for its word's full
    required mask, and a per-partition count-distinct demands every
    needed word passed. Only the PASSING partition values reach the
    driver — O(|passing parts|) rows, never |parts| × m_bits/32.

    Contract: ``index_df`` must be a MERGED index (one row per
    (partition, word) — `partition_bloom_index` / `read_bloom_index`
    output). Raw per-batch register rows under-report bits and would
    reject partitions the merged filter admits.

    Same no-false-negative guarantee as the collected variant; the
    two paths select identical partitions (property-tested).
    """
    need = bloom_needed_words(value, m_bits, k_hashes)
    match = None
    for w, m in need.items():
        c = (F.col("w") == F.lit(w)) & (
            F.col("bits").bitwiseAND(F.lit(m).cast("long"))
            == F.lit(m).cast("long")
        )
        match = c if match is None else (match | c)
    passing = (
        index_df.filter(F.col("w").isin(*[int(w) for w in need]))
        .filter(match)
        .groupBy(part_col)
        # countDistinct guards a not-quite-merged index carrying
        # duplicate (part, w) rows; on a merged index it is a count
        .agg(F.countDistinct("w").alias("_n"))
        .filter(F.col("_n") == F.lit(len(need)))
        .select(part_col)
        .collect()
    )
    return sorted(r[part_col] for r in passing)


def merge_bloom(part_col: str) -> Callable[[DataFrame], DataFrame]:
    """The bloom register-store merge (`stores.BatchStore`): bit_or per
    (partition, word) — OR is associative and commutative, so a store
    of per-batch `partition_bloom_index` registers reads and collapses
    to exactly the index built from all keys at once."""
    return lambda regs: regs.groupBy(part_col, "w").agg(
        F.bit_or("bits").alias("bits")
    )


def upsert_bloom_registers(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    part_col: str,
    key_col: str,
) -> None:
    """Incrementally-maintained partition bloom index — the skipping
    index as a foreachBatch store (the HLL/CMS register-store shape):
    each microbatch writes ITS OWN batch's per-partition filter words
    as batch ``batch_id`` of a `stores.BatchStore`, so an at-least-once
    replay rewrites identical rows instead of OR-ing them twice (bit_or
    is idempotent anyway, but the per-batch layout also buys horizon
    collapse for free). Read through ``read_bloom_index``: bit_or
    across batches == the filter built from all keys at once, which
    the test pins exactly.

    Append-only contract: blooms cannot forget — after erase_keys /
    TTL sweeps, rebuild the affected partitions' registers (the
    standard bloom limitation, stated rather than hidden).
    """
    regs = partition_bloom_index(batch_df, part_col, key_col)
    BatchStore(batch_df.sparkSession, store_path).upsert(batch_id, regs)


def read_bloom_index(spark, store_path: str, part_col: str) -> DataFrame | None:
    """Merged (part, w, bits) view of the incremental bloom store (one
    bit_or hash-agg across batch registers), or None before the first
    batch."""
    return BatchStore(spark, store_path, merge_bloom(part_col)).read()
