"""Column profiling — the data-quality pass every large pipeline runs
before training: per-column null rate, distinct count, numeric range.

Output is narrow (column, metric, value) rows so 10 columns or 10,000
profile the same way. One aggregate job over the table: all metrics
for all columns compute in a single pass (one row of aggregates,
unpivoted via stack)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(
    df: DataFrame,
    numeric_cols: list[str],
    string_cols: list[str] = (),
) -> DataFrame:
    """Profile the named columns in ONE aggregate pass.

    Metrics: n_null, n_distinct (exact), plus min/max/avg for numeric
    columns (rounded to 4). Output: col_name, metric, value (double).
    """
    if not numeric_cols and not string_cols:
        raise ValueError("profile_columns: name at least one column to profile")
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("__n")]
    for c in list(numeric_cols) + list(string_cols):
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__n_null"))
        aggs.append(F.countDistinct(c).alias(f"{c}__n_distinct"))
    for c in numeric_cols:
        aggs.append(F.round(F.min(c).cast("double"), 4).alias(f"{c}__min"))
        aggs.append(F.round(F.max(c).cast("double"), 4).alias(f"{c}__max"))
        aggs.append(F.round(F.avg(c), 4).alias(f"{c}__avg"))
    one = df.agg(*aggs)
    # the table-level row count rides the same single pass
    pairs: list[str] = ["'__table__'", "'n_rows'", "CAST(`__n` AS DOUBLE)"]
    for c in list(numeric_cols) + list(string_cols):
        pairs += [f"'{c}'", f"'n_null'", f"CAST(`{c}__n_null` AS DOUBLE)"]
        pairs += [f"'{c}'", f"'n_distinct'", f"CAST(`{c}__n_distinct` AS DOUBLE)"]
    for c in numeric_cols:
        for m in ("min", "max", "avg"):
            pairs += [f"'{c}'", f"'{m}'", f"CAST(`{c}__{m}` AS DOUBLE)"]
    n_rows = len(pairs) // 3
    stack = f"stack({n_rows}, {', '.join(pairs)}) AS (col_name, metric, value)"
    return one.selectExpr(stack)
