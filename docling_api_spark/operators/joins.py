"""Temporal join operator: as-of join + bounded-interval range counts.

Spark has no built-in as-of or interval range join; the naive encodings
(per-key ``applyInPandas`` merge_asof, or an equi-join on the key followed
by a time filter) either drop to Python or explode to O(|left|·|right|)
intermediate rows per key. The operator here uses the UNION + WINDOW
trick instead: tag left/right, union them into one frame, and resolve the
temporal predicate with window functions over a single shuffle on the join
key — no join operator at all, no Python, whole-stage codegen throughout.

Scale notes (100 TB): cost is one Exchange on the key plus an in-partition
sort — the same price as the equi-join's shuffle, but with no pair
expansion and no second relation build. Skewed keys degrade exactly like
any window over that key; route hot keys through
``plans.pipeline.skew_aware_repartition`` first if the key histogram is
pathological. Both window specs share the partitioning, so asking for the
as-of attach AND a preceding-interval count still costs one shuffle.

Reference parity: the reference correlates each usage/webhook event with
the most recent prior state for the same key — "latest job status at or
before t" polling (docling_client.py:300-330) and per-key last_used
tracking (key_service.py:163-180). This operator is that lookup
expressed as a set operation instead of a point query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_IS_RIGHT = "_asof_is_right"


_R_STRUCT = "_asof_right_row"
_TS_FIELD = "__asof_ts"


def _micros(ts_col: str):
    """Epoch micros for window ordering / range frames. Parquet
    timestamps arrive as TIMESTAMP_NTZ; unix_micros wants TIMESTAMP. The
    session pins spark.sql.session.timeZone=UTC (session.py), so the
    cast is a linear relabeling — no DST folds that could warp
    range-frame arithmetic."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    attach_cols: Sequence[str] = ("value",),
    prefix: str = "asof_",
    count_preceding_s: int | None = None,
    count_col: str = "n_right_preceding",
) -> DataFrame:
    """As-of join: attach to every left row the latest right row with
    ``right_ts <= left_ts`` for the same key (inclusive semantics — the
    same as DuckDB's ``ASOF JOIN ... ON r.ts <= l.ts``), as
    ``{prefix}{right_ts}`` plus ``{prefix}{c}`` for each attached column;
    nulls when no right row precedes. Optionally also attach
    ``count_col`` = number of right rows in the half-open interval
    ``[left_ts - count_preceding_s, left_ts)`` — microsecond-exact via a
    range frame over epoch micros.

    Mechanics: right rows are projected to (key, ts, attached cols),
    unioned under the left schema, and the ENTIRE right row is carried
    as ONE struct through a single ``last(struct, ignorenulls)`` over an
    unbounded-preceding row frame — so the attached columns always come
    from the SAME right row even when some attached values are null (a
    per-column carry would mix a null-valued later row's ts with an
    earlier row's value — a chimera row). Ordering per key is
    (epoch_micros, is_right DESC, right-struct) — at equal timestamps a
    right row sorts before a left row (inclusive as-of), and duplicate
    right timestamps resolve deterministically to the MAX attached-value
    tuple (struct comparison is field-by-field in ``attach_cols`` order).

    Requires: (key, right_ts) collisions are allowed but resolved by
    attached-column order; attached columns must be orderable types.
    Right rows with a NULL ``right_ts`` are dropped before the union —
    ``NULL <= t`` is never true, so they can match nothing (DuckDB ASOF
    agrees); without the filter they would sort NULLS FIRST and be
    carried onto every left row with no real predecessor. Right rows
    with a NULL in any KEY column are dropped for the same reason
    (equality-join semantics: ``NULL = NULL`` is never true) — the
    window's ``partitionBy`` would otherwise group all null-key rows
    together and attach them to null-key left rows, which an ASOF/equi
    join never does. Null-key LEFT rows survive with null attaches and
    a zero count (left-outer semantics).
    """
    if _TS_FIELD in attach_cols:
        raise ValueError(f"attach column name {_TS_FIELD!r} is reserved")
    # the tag and carried-struct columns are added to (and later dropped
    # from) the unioned frame — a left column with either name would be
    # silently overwritten and then removed from the output
    for reserved in (_IS_RIGHT, _R_STRUCT):
        if reserved.lower() in {c.lower() for c in left.columns}:
            raise ValueError(f"left column name {reserved!r} is reserved")
    # output columns must not clobber existing left columns: unionByName
    # would fold right values into the left column and the final
    # withColumn would silently overwrite it for every row. Compare
    # case-insensitively (Spark resolves names case-insensitively by
    # default, so a differently-cased left column would still be
    # clobbered), and also reject output names equal to the internal
    # scratch columns — the final drop() would silently remove them.
    out_names = [prefix + right_ts] + [prefix + c for c in attach_cols]
    if count_preceding_s is not None:
        out_names.append(count_col)
    left_lower = {c.lower() for c in left.columns}
    reserved_lower = {_IS_RIGHT.lower(), _R_STRUCT.lower()}
    for name in out_names:
        if name.lower() in reserved_lower:
            raise ValueError(f"output column name {name!r} is reserved")
        if name.lower() in left_lower:
            raise ValueError(
                f"output column {name!r} already exists on the left frame; "
                "pass a different prefix/count_col"
            )
    key = [on] if isinstance(on, str) else list(on)
    right_clean = right.filter(F.col(right_ts).isNotNull())
    for k in key:
        right_clean = right_clean.filter(F.col(k).isNotNull())
    # tag left 0 / right 1 and union under the left schema (right columns
    # missing from left arrive as nulls)
    u = left.withColumn(_IS_RIGHT, F.lit(0)).unionByName(
        right_clean.select(
            *key,
            F.col(right_ts).alias(left_ts),
            *[F.col(c).alias(prefix + c) for c in attach_cols],
        ).withColumn(_IS_RIGHT, F.lit(1)),
        allowMissingColumns=True,
    )
    micros = _micros(left_ts)
    rstruct = F.when(
        F.col(_IS_RIGHT) == 1,
        F.struct(
            F.col(left_ts).alias(_TS_FIELD),
            *[F.col(prefix + c).alias(c) for c in attach_cols],
        ),
    )
    w_rows = (
        Window.partitionBy(*key)
        .orderBy(micros.asc(), F.col(_IS_RIGHT).desc(),
                 rstruct.asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u.withColumn(
        _R_STRUCT, F.last(rstruct, ignorenulls=True).over(w_rows)
    )
    out = out.withColumn(prefix + right_ts, F.col(f"{_R_STRUCT}.{_TS_FIELD}"))
    for c in attach_cols:
        out = out.withColumn(prefix + c, F.col(f"{_R_STRUCT}.{c}"))
    if count_preceding_s is not None:
        w_range = (
            Window.partitionBy(*key)
            .orderBy(micros)
            .rangeBetween(-count_preceding_s * 1_000_000, -1)
        )
        out = out.withColumn(
            count_col,
            F.count(F.when(F.col(_IS_RIGHT) == 1, F.lit(1))).over(w_range),
        )
    return out.filter(F.col(_IS_RIGHT) == 0).drop(_IS_RIGHT, _R_STRUCT)

