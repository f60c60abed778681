"""Cross-engine numerically-stable aggregate helpers.

Floating-point SUM/AVG over a distributed dataset is order-dependent:
Spark's partial+final aggregation and DuckDB's single-node aggregation
can differ in the last ulps, which breaks value-hash comparisons
against the DuckDB oracle. Decimal addition, by contrast, is exact and
associative in both engines, so we sum in DECIMAL and cast the final
scalar back to DOUBLE — one deterministic rounding, identical in both
engines. Every arithmetic step after that (division, sqrt, comparison)
is an IEEE-754 correctly-rounded scalar op, hence bit-identical.

The DuckDB rendering routes the final cast through VARCHAR
(decimal → exact string → strtod): DuckDB's direct DECIMAL→DOUBLE
cast double-rounds (int128 → double, then ÷10⁶ — two roundings),
which came out 1 ulp off Java's correctly-rounded
BigDecimal.doubleValue() at sf0.1 sums (~4.6·10¹¹ needs > 53 bits
scaled; found by the round-4 cross-scale gate). strtod is correctly
rounded, so the string hop restores bit parity at every magnitude.

SQL-side equivalents (used by __spark_entry__.oracle_sql):
    stable_sum(x)  -> CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
    stable_avg(x)  -> CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
                      / COUNT(x)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, Window

DECIMAL_T = "decimal(28,6)"


def stable_sum(col: Column | str) -> Column:
    """Order-independent SUM(double): exact decimal sum → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DECIMAL_T)).cast("double")


def stable_avg(col: Column | str) -> Column:
    """Order-independent AVG(double) matching the SQL rendering above."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DECIMAL_T)).cast("double") / F.count(c)


def sql_stable_sum(expr: str) -> str:
    """ANSI-SQL rendering of stable_sum for the DuckDB oracle."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)"


def sql_stable_avg(expr: str) -> str:
    """ANSI-SQL rendering of stable_avg for the DuckDB oracle."""
    return f"(CAST(CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT({expr}))"


def portable_hash(col: Column | str) -> Column:
    """60-bit integer hash reproducible in any SQL engine with md5():
    the first 15 hex chars of md5, parsed base-16 (always positive,
    fits a signed 64-bit). The engine-portable twin of ``xxhash64``
    for operators whose oracle must recompute the hash.

    DuckDB twin: ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_portable_hash(expr: str) -> str:
    """DuckDB rendering of portable_hash for the oracle SQL."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def null_safe_broadcast_join(left, right, keys, eq_cols=(), carry=()):
    """Broadcast-join ``right`` onto ``left`` with NULL-SAFE equality
    on ``keys`` (plus plain equality on ``eq_cols``), returning all of
    ``left``'s columns and ``carry`` columns from ``right``.

    The one way a per-group table joins back onto rows: DEMV's target
    map and reweighing's weights (operators/balancer), the
    post-processors' score cuts and quota bounds
    (operators/postprocess), ``bucketed_rank``'s offsets, the salted
    offsets of operators/corpus.cap_per_key and
    functions/metrics.auc_exact, and the per-group stats of
    operators/etl. A plain equi-join on user key columns silently
    DROPS NULL-keyed rows (NULL = NULL is never true), deleting data
    from operators whose contract is flag-not-filter, or losing the
    NULL sensitive group's row from a parity report. ``eqNullSafe``
    per key keeps NULL groups first-class; ``eq_cols`` stays plain
    equality for internal never-NULL columns (bucket ids)."""
    if not keys and not eq_cols:
        # left.join(right, None) would silently degenerate to a CROSS
        # join — surface the caller bug instead (ADVICE round 5)
        raise ValueError(
            "null_safe_broadcast_join: keys and eq_cols are both empty — "
            "the join would be a cross join; pass at least one key column"
        )
    odf = F.broadcast(right)
    cond = None
    for c in eq_cols:
        term = left[c] == odf[c]
        cond = term if cond is None else cond & term
    for k in keys:
        term = left[k].eqNullSafe(odf[k])
        cond = term if cond is None else cond & term
    return left.join(odf, cond).select(left["*"], *[odf[c] for c in carry])


def bucketed_rank(df, keys, buckets, order):
    """Exact ``row_number()`` over ``partitionBy(*keys).orderBy(*buckets,
    *order)`` without one task owning a whole key: rows rank within
    (keys, buckets), then each row adds the exact count of rows in
    earlier buckets of its key. Adds ``__rn``; keeps every column.

    The two-phase rank behind DEMV's salted resample (a random salt
    bucket, random order) and the post-processors' range-bucketed
    ranks (score buckets aligned with the score order). The offsets
    come from a per-(keys, buckets) census — a few rows per key — and
    join back NULL-safely on keys and buckets alike, so NULL keys and
    NULL bucket values (which sort first) keep their rows."""
    ranked = df.withColumn(
        "__lrn",
        F.row_number().over(Window.partitionBy(*keys, *buckets).orderBy(*order)),
    )
    earlier = (
        Window.partitionBy(*keys)
        .orderBy(*buckets)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranked.groupBy(*keys, *buckets)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .withColumn("__off", F.coalesce(F.sum("__bn").over(earlier), F.lit(0)))
    )
    return (
        null_safe_broadcast_join(ranked, offsets, [*keys, *buckets], carry=["__off"])
        .withColumn("__rn", F.col("__lrn") + F.col("__off"))
        .drop("__lrn", "__off")
    )
