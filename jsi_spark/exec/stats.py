"""Per-column stats: the corpus-level lift of type/required keyword
semantics (SURVEY.md §2.4; north_rule "per-column stats: null count,
distinct HLL sketch, min/max").

One single-pass hash aggregate per table: every statistic is a partial-
aggregatable expression, so Catalyst plans partial (map-side) + final
aggregation automatically — one shuffle of one tiny row per partition,
regardless of table size. The HLL (approx_count_distinct) and quantile
(percentile_approx, a Greenwald–Khanna-style summary — not KLL) sketches
are mergeable, which is exactly what makes this hold at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: (long-form field, wide aggregate column prefix) per statistic
STAT_FIELDS = (("null_count", "__nc_"), ("distinct_hll", "__d_"),
               ("min_val", "__mn_"), ("max_val", "__mx_"),
               ("kll_quantiles", "__q_"))


def stats_aggs(df: DataFrame, columns: list[str] | None = None,
               hll_rsd: float = 0.02,
               quantiles: tuple = (0.25, 0.5, 0.75, 0.95),
               exact_distinct: bool = False) -> tuple[list[str], list]:
    """``(columns, aggregate expressions)`` of :func:`column_stats`'
    wide row: ``__n_rows`` plus one ``<prefix><column>`` per
    :data:`STAT_FIELDS` entry and column. Callers may add their own
    aggregates to the same ``agg`` (one scan for all of them)."""
    columns = columns or [
        f.name for f in df.schema.fields
        if f.dataType.typeName() in
        ("string", "long", "integer", "double", "float", "short", "byte",
         "decimal", "boolean", "date", "timestamp")]
    numeric = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() in
        ("long", "integer", "double", "float", "short", "byte", "decimal")}
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in columns:
        # exact distinct via size(collect_set): partial-mergeable in the
        # same single pass as everything else. (count_distinct would
        # force an Expand — input ×(C+1) — with several columns in one
        # agg.) Memory is O(distinct values); that is fine for the
        # oracle/test path this flag exists for — the corpus-scale
        # default is the HLL sketch.
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nc_{c}"),
            (F.size(F.collect_set(F.col(c))).cast("long") if exact_distinct
             else F.approx_count_distinct(c, hll_rsd))
            .alias(f"__d_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
            (F.percentile_approx(c, list(quantiles), 10000)
             .cast("array<double>") if quantiles and c in numeric
             else F.lit(None).cast("array<double>")).alias(f"__q_{c}"),
        ]
    return columns, aggs


def unpivot_row(wide, columns: list[str]) -> list[tuple]:
    """Driver-side twin of :func:`column_stats`' explode: one
    ``(column, n_rows, null_count, distinct_hll, min_val, max_val,
    kll_quantiles)`` tuple per column of a collected wide row."""
    return [(c, wide["__n_rows"], *(wide[p + c] for _, p in STAT_FIELDS))
            for c in columns]


def column_stats(df: DataFrame, columns: list[str] | None = None,
                 hll_rsd: float = 0.02,
                 quantiles: tuple = (0.25, 0.5, 0.75, 0.95),
                 group_by: str | None = None,
                 exact_distinct: bool = False) -> DataFrame:
    """Long-form stats: one output row per column
    (column, n_rows, null_count, distinct_hll, min_val, max_val,
    kll_quantiles for numeric columns). ``group_by`` adds a grouping
    column (e.g. the partition bucket) for per-partition metrics.
    ``exact_distinct`` swaps the HLL sketch for an exact count-distinct
    (oracle-comparable; the sketch is the default at corpus scale).
    """
    # ONE wide aggregate computes every column's stats in a single scan
    # (partial map-side + final: one tiny row per group crosses the
    # exchange), then an explode unpivots the wide row to long form —
    # C columns cost one job, not C scans.
    columns, aggs = stats_aggs(df, columns, hll_rsd, quantiles,
                               exact_distinct)
    wide = df.groupBy(group_by).agg(*aggs) if group_by else df.agg(*aggs)
    unpivoted = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col("__n_rows").alias("n_rows"),
                 *[F.col(p + c).alias(name) for name, p in STAT_FIELDS])
        for c in columns])).alias("__s")
    keys = [group_by] if group_by else []
    return wide.select(*keys, unpivoted).select(*keys, "__s.*")
