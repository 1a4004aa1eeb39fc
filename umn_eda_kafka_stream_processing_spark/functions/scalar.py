"""Scalar function library — the complete scalar surface the
reference uses (SURVEY.md §2.7), as Catalyst column expressions
(JVM-side, codegen'd — no Python UDFs in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, scale: int) -> Column:
    """Engine-portable half-up rounding of a double.

    ``floor(x * 10^s + 0.5) / 10^s`` — plain IEEE ops that evaluate
    bit-identically in any engine, unlike round(): Spark rounds
    doubles via their shortest decimal repr HALF_UP while DuckDB
    rounds half-to-even, so values landing exactly on a .5 boundary
    (common for ratios of small integers) diverge between engines.
    The DuckDB twin is the same SQL expression (see plans/catalog*).
    """
    factor = float(10 ** scale)
    return F.floor(col * factor + F.lit(0.5)) / factor


def stringify_address() -> Column:
    """"{line1}, {line2}, {citynm}, {state} {zip5}-{zip4} {countrycd}".

    reference: exercises/stateless/AddressSortAndStringify.java:15-20;
    golden: "111 1st St, Apt 2, Madison, WI 55555-1234 USA"
    (AddressSortAndStringifyTest.java:80,105).
    """
    cols = ("line1", "line2", "citynm", "state", "zip5", "zip4", "countrycd")
    return F.format_string("%s, %s, %s, %s %s-%s %s", *[F.col(c) for c in cols])


def birth_decade_filter(birthdt: str = "birthdt") -> Column:
    """Customers born in [1990, 1999] from "YYYY-MM-DD".

    reference: exercises/stateless/TargetCustomerFilter.java:13-15;
    boundary behavior pinned by TargetCustomerFilterTest.java:70-90
    (1989 out, 1990 in, 1999 in, 2000 out).
    """
    year = F.substring(F.col(birthdt), 1, 4).cast("int")
    return year.between(1990, 1999)


def composite_key(*cols: str) -> Column:
    """artistid + "-" + state style composite keys.

    reference: phase3/TopStreamingArtistByState.java:221.
    """
    return F.concat_ws("-", *[F.col(c) for c in cols])


def split_composite_key() -> tuple[Column, Column]:
    """Split the ``key`` column on its LAST "-" (test-side helper,
    reference: phase3/TopStreamingArtistByStateTest.java:793-797)."""
    prefix = F.expr(
        "substring(key, 1, length(key) - length(substring_index(key, '-', -1)) - 1)"
    )
    suffix = F.substring_index(F.col("key"), "-", -1)
    return prefix, suffix


def remaining_percentage(remaining: str = "remaining", capacity: str = "capacity") -> Column:
    """(remaining / capacity) * 100, clamped at 0 for oversold.

    reference: samples/PurchaseEventTicket.java:210-216
    (remainingPercentage() clamps negatives to 0).
    """
    pct = F.col(remaining) / F.col(capacity) * F.lit(100.0)
    return F.greatest(pct, F.lit(0.0))
