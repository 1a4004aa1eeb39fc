"""INT8 embedding quantization — exact integer-micro affine codes.

A 100 TB embedding corpus at float32x64 is ~4x bigger than it needs
to be for shortlist/ANN work: per-dimension affine INT8 codes keep
recall within noise for cosine/L2 shortlists (re-rank on the float
vectors as `pq_search_topk` already does for PQ) while cutting the
scanned bytes 4x. This module is the scalar-quantization sibling of
`operators/similarity.py`'s PQ family.

Everything is EXACT integer arithmetic after one micro-rounding of
each element (floor(x*1e6+0.5) — the repo's round_half_up, identical
on both engines), so codes, reconstructions, and error statistics
hash-match DuckDB bit-for-bit:

    code  = (x_micro - lo_d) * 255  div  max(hi_d - lo_d, 1)
    x_hat = lo_d + (code * rng_d) div 255
    err   = |x_micro - x_hat|

(x_micro - lo_d >= 0, so `div` truncation == floor on both engines;
a constant dimension (hi == lo) maps to code 0 and reconstructs
exactly.)

Scale shape: one posexplode pass (n x dim rows — the standard
columnar stats pass), per-dimension lo/hi is a |dim|-row aggregate
BROADCAST back onto the elements (never a shuffle of the corpus on
anything but the explode), and re-packing to arrays is one hash-agg
per vector. All JVM-side column expressions — no Python in the path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def int8_quantize_elements(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-element INT8 codes + exact reconstruction error.

    Returns one row per (input row, dimension): all input columns
    except ``vec_col``, plus ``pos`` (0-based dimension), ``x_micro``
    (the micro-rounded element), ``code`` (0..255), ``xhat_micro``
    (the dequantized value) and ``err_micro`` = |x - x_hat|.

    The per-dimension (lo, hi) stats are computed from THIS frame —
    train == serve. For a frozen-quantizer ingest path, compute
    ``int8_stats`` once and pass it to ``int8_apply``.
    """
    e = _explode_micro(df, vec_col)
    return int8_apply(e, int8_stats(e))


def int8_stats(elements: DataFrame) -> DataFrame:
    """Per-dimension (pos, lo, hi) over an exploded element frame —
    a |dim|-row aggregate (the quantizer 'model')."""
    return elements.groupBy("pos").agg(
        F.min("x_micro").alias("lo"), F.max("x_micro").alias("hi")
    )


def int8_apply(elements: DataFrame, stats: DataFrame) -> DataFrame:
    """Code + reconstruction error for each element under a given
    per-dimension stats frame (broadcast — |dim| rows). Elements
    outside [lo, hi] (serve-time drift under a frozen quantizer)
    clamp into the code range, the standard SQ behavior."""
    q = (
        elements.join(F.broadcast(stats), "pos")
        .withColumn(
            "_rng", F.greatest(F.col("hi") - F.col("lo"), F.lit(1))
        )
        .withColumn(
            "_clamped",
            F.greatest(
                F.least(F.col("x_micro"), F.col("hi")), F.col("lo")
            ),
        )
        .withColumn(
            "code",
            F.expr("((_clamped - lo) * 255) div _rng").cast("long"),
        )
        .withColumn(
            "xhat_micro",
            (F.col("lo") + F.expr("(code * _rng) div 255")).cast("long"),
        )
        .withColumn(
            "err_micro",
            F.abs(F.col("x_micro") - F.col("xhat_micro")).cast("long"),
        )
    )
    return q.drop("lo", "hi", "_rng", "_clamped")


def int8_pack(
    elements: DataFrame, id_cols: str | Sequence[str]
) -> DataFrame:
    """Re-assemble per-element codes into one ``codes`` array per
    vector (ordered by dimension) — one hash-agg, the write-side
    shape for a quantized corpus table."""
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    return elements.groupBy(*ids).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "code"))),
            lambda s: s.code.cast("int"),
        ).alias("codes")
    )


def _explode_micro(df: DataFrame, vec_col: str) -> DataFrame:
    keep = [c for c in df.columns if c != vec_col]
    return df.select(
        *keep, F.posexplode(F.col(vec_col)).alias("pos", "_x")
    ).select(
        *keep,
        "pos",
        F.floor(F.col("_x").cast("double") * MICRO + F.lit(0.5))
        .cast("long")
        .alias("x_micro"),
    )


def jl_project(
    df: DataFrame,
    vec_col: str,
    id_cols: str | Sequence[str],
    out_dim: int = 16,
) -> DataFrame:
    """Johnson-Lindenstrauss sign (Rademacher) projection — the
    dimensionality cut for embedding tables: y_j = sum_i s_ij * x_i
    with s_ij in {-1, +1} derived from md5(jl|j|i), so the
    projection matrix is never stored, any engine regenerates it
    bit-for-bit, and (after one micro-rounding of x) every output
    coordinate is an EXACT BIGINT — E[||y_a - y_b||^2] =
    out_dim * ||x_a - x_b||^2 (Achlioptas 2003, public), which the
    distance-preservation census pins as data.

    Scale shape: explode (n x dim rows), a dims-frame crossJoin
    (out_dim rows, broadcast — elements x out_dim intermediate), one
    hash-agg to (id, j, y_micro). All JVM column expressions. 4x-16x
    fewer dimensions downstream for ANN shortlists/clustering; exact
    re-rank stays on the original vectors (the PQ rule).

    Returns (id_cols..., j, y_micro) — long form, `int8_pack`-style
    reassembly applies if an array column is wanted.
    """
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    e = _explode_micro(df.select(*ids, vec_col), vec_col)
    dims = (
        df.sparkSession.range(int(out_dim))
        .select(F.col("id").cast("int").alias("j"))
    )
    sign = F.lit(1) - F.lit(2) * (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("jl|"),
                        F.col("j").cast("string"),
                        F.lit("|"),
                        F.col("pos").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    return (
        e.crossJoin(F.broadcast(dims))
        .withColumn("_s", sign)
        .groupBy(*ids, "j")
        .agg(
            F.sum(F.col("_s") * F.col("x_micro"))
            .cast("long")
            .alias("y_micro")
        )
    )
