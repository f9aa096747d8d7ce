"""Distribution drift: approximate quantile sketches + population
stability index (north_rule "KLL quantile sketches for drift via
population-stability-index"; KLL background per PAPERS.md). The
quantiles come from Spark's ``percentile_approx``, a mergeable
Greenwald–Khanna-style summary — not a KLL sketch.

PSI = Σ (p_i − q_i) · ln(p_i / q_i) over shared bins, where q is the
reference (baseline snapshot) distribution and p the current one.
Bin edges come from the REFERENCE quantiles so both sides bin
identically; binning is ``width_bucket``-style via a CASE over edges —
a map-side expression feeding one partial+final hash aggregate per side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPS = 1e-6


def quantile_edges(df: DataFrame, col: str, n_bins: int = 10,
                   accuracy: int = 10000) -> list[float]:
    """Bin edges from equi-probable reference quantiles (driver-side,
    one job; the sketch itself is mergeable across partitions)."""
    probs = [i / n_bins for i in range(1, n_bins)]
    row = df.agg(F.percentile_approx(col, probs, accuracy)
                 .alias("q")).head()
    edges, seen = [], set()
    for e in row.q or []:
        fe = float(e)
        if fe not in seen:
            seen.add(fe)
            edges.append(fe)
    return edges


def bin_column(col, edges: list[float]):
    """width_bucket as a closed-form expression: bucket k for
    edges[k-1] <= x < edges[k]; NULL → bucket -1."""
    expr = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        expr = F.when(col < F.lit(edges[i]), F.lit(i)).otherwise(expr)
    return F.when(col.isNull(), F.lit(-1)).otherwise(expr)


def _bin_shares(df: DataFrame, col: str, edges: list[float]) -> DataFrame:
    counts = (df.select(bin_column(F.col(col), edges).alias("bucket"))
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))
    # counts has ≤ n_bins+2 rows post-aggregation: a broadcast cross join
    # with the 1-row total is free at any input scale
    total = counts.agg(F.sum("n").alias("total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("bucket", (F.col("n") / F.col("total")).alias("share")))


def psi(current: DataFrame, reference: DataFrame, col: str,
        n_bins: int = 10, edges: list[float] | None = None) -> DataFrame:
    """One-row DataFrame (column, psi). Rule of thumb: <0.1 stable,
    0.1-0.25 moderate drift, >0.25 major drift. ``edges`` overrides the
    quantile-sketch edges with fixed bin boundaries (deterministic,
    oracle-comparable binning)."""
    if edges is None:
        edges = quantile_edges(reference, col, n_bins)
    p = _bin_shares(current, col, edges).withColumnRenamed("share", "p")
    q = _bin_shares(reference, col, edges).withColumnRenamed("share", "q")
    joined = p.join(q, "bucket", "full_outer").select(
        F.coalesce("p", F.lit(0.0)).alias("p"),
        F.coalesce("q", F.lit(0.0)).alias("q"))
    term = ((F.col("p") - F.col("q"))
            * F.log((F.col("p") + EPS) / (F.col("q") + EPS)))
    return joined.agg(F.lit(col).alias("column"),
                      F.sum(term).alias("psi"))


def psi_per_window(counts: DataFrame) -> DataFrame:
    """PSI of each window's bin distribution vs the EARLIEST window's
    (the drift baseline) → (win_start, psi). Input is the
    (win_start, bucket, n) table a streaming windowed histogram
    maintains (jsi_spark.streaming.windowed_bin_counts) — by
    construction it is windows × bins rows, so every join here is
    broadcast-sized regardless of how many events the stream ingested;
    this is the batch scoring read of a drift monitor's state table."""
    from pyspark.sql.window import Window as W

    # every branch below derives from the same `counts` plan — rename
    # the join keys per branch so Catalyst never sees the same
    # attribute on both sides of a join
    shares = counts.select(
        F.col("win_start").alias("s_win"), F.col("bucket").alias("s_b"),
        (F.col("n") / F.sum("n").over(W.partitionBy("win_start")))
        .alias("p"))
    minw = counts.groupBy().agg(F.min("win_start").alias("s_win"))
    base = (shares.join(F.broadcast(minw), "s_win")
            .select(F.col("s_b").alias("q_b"), F.col("p").alias("q")))
    grid = (counts.select(F.col("win_start").alias("g_win")).distinct()
            .crossJoin(F.broadcast(
                counts.select(F.col("bucket").alias("g_b")).distinct())))
    j = (grid.join(shares, (F.col("g_win") == F.col("s_win"))
                   & (F.col("g_b") == F.col("s_b")), "left")
         .join(F.broadcast(base), F.col("g_b") == F.col("q_b"), "left")
         .select(F.col("g_win").alias("win_start"),
                 F.coalesce("p", F.lit(0.0)).alias("p"),
                 F.coalesce("q", F.lit(0.0)).alias("q")))
    term = ((F.col("p") - F.col("q"))
            * F.log((F.col("p") + EPS) / (F.col("q") + EPS)))
    return j.groupBy("win_start").agg(F.round(F.sum(term), 6).alias("psi"))
