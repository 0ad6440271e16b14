"""Metering / usage-analytics operators (SURVEY.md §2.5 A1-A5, §2.2 P3-P4).

The reference meters conversions in a relational DB (usage_records,
api/models/db_models.py:128-160; rollup in
api/services/key_service.py:146-180; credit formula in
api/routes/documents.py:35-41). Here the same semantics are pure
DataFrame aggregations — zero Python UDFs, fully codegen'd, partial
(map-side) aggregation for free, so they scale linearly with data and
shuffle only the tiny per-key aggregate state.

The sandbox analog tables: ``events`` stands in for usage_records
(user_id ~ api_key_id, value ~ pages, event_type ~ status/endpoint),
``customer``/``orders`` for the FK rollup shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference credit formula: max(pages * credits_per_page, min_credits)
# (api/routes/documents.py:35-41; defaults 1 and 1, api/config.py:130-137)
CREDITS_PER_PAGE = 1
MIN_CREDITS = 1


def credits_col(pages_col):
    """A2 — scalar credit expression."""
    return F.greatest(pages_col.cast("long") * F.lit(CREDITS_PER_PAGE),
                      F.lit(MIN_CREDITS).cast("long"))


def usage_rollup(df: DataFrame, key_col: str, value_col: str,
                 time_col: str | None = None,
                 value_decimals: int | None = None) -> DataFrame:
    """A4 — per-key usage stats (count / sum / avg), the shape of
    get_usage_stats (key_service.py:166-180).

    ``value_decimals``: when the value column is a fixed-point quantity
    (money in cents, 2-decimal metering values), pass its decimal count
    and the sum/avg are computed in EXACT scaled-integer arithmetic:
    each value becomes a long at that scale, the sum is an associative
    integer sum, and the avg is HALF_UP at 4 decimals via integer
    division. This is the correct shape at cluster scale — a plain
    double sum is partition-ORDER dependent (AQE re-plans, shuffles, and
    engine differences each reorder the fold, and avg ties at the
    rounding digit flip: user 51 at sf0.1 is exactly 56.20875) — and it
    keeps the repo's no-batch-boundary-dependence invariant. With
    ``value_decimals=None`` the legacy float sum/avg is kept for
    genuinely continuous values (documented caveat: order-sensitive in
    the last ulps)."""
    if value_decimals is None:
        aggs = [
            F.count(F.lit(1)).alias("n_requests"),
            F.sum(value_col).alias("total_value"),
            F.avg(value_col).alias("avg_value"),
        ]
        if time_col:
            aggs += [F.min(time_col).alias("first_seen"),
                     F.max(time_col).alias("last_seen")]
        return df.groupBy(key_col).agg(*aggs)

    vscale = 10 ** value_decimals
    ascale = 10 ** 4  # avg_value's decimals
    # value -> exact scaled long (round() repairs the double's
    # representation error; values are promised to have value_decimals
    # decimals, so the nearest integer is never near a .5 tie)
    v_int = F.round(F.col(value_col) * vscale, 0).cast("long")
    g = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum(v_int).alias("_sum_int"),
        # avg denominator counts NON-NULL values only — F.avg semantics;
        # dividing the null-skipping sum by count(*) would silently
        # deflate averages on nullable value columns
        F.count(value_col).alias("_n_vals"),
        *(
            [F.min(time_col).alias("first_seen"),
             F.max(time_col).alias("last_seen")]
            if time_col else []
        ),
    )
    # avg = sum_int / (vscale * n_vals), HALF_UP at 4 decimals:
    # floor((2*ascale*sum_int + vscale*n) / (2*vscale*n)) / ascale —
    # all longs; (a - pmod(a,b))/b is an exactly-divisible double div.
    # All-NULL group: _sum_int is NULL -> avg_value NULL (F.avg parity).
    a = (F.lit(2 * ascale).cast("long") * F.col("_sum_int")
         + F.lit(vscale).cast("long") * F.col("_n_vals"))
    b = (F.lit(2 * vscale).cast("long") * F.col("_n_vals"))
    cols = [
        key_col,
        "n_requests",
        (F.col("_sum_int") / F.lit(float(vscale))).alias("total_value"),
        F.when(
            F.col("_n_vals") > 0,
            ((a - F.pmod(a, b)) / b) / F.lit(float(ascale)),
        ).alias("avg_value"),
    ]
    if time_col:
        cols += ["first_seen", "last_seen"]
    return g.select(*cols)


def time_window_filter(df: DataFrame, time_col: str, as_of: str, days: int) -> DataFrame:
    """P4 — `created_at >= as_of - interval N days` (key_service.py:152-161).
    ``as_of`` is a fixed literal, never wall-clock (determinism, SURVEY §4.3)."""
    return df.filter(
        F.col(time_col) >= F.to_timestamp(F.lit(as_of)) - F.expr(f"INTERVAL {days} DAYS")
    )

