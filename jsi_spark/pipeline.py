"""The full validation pass: compile once → per-partition keyword
validation and corpus constraints → verdicts / violations / metrics /
lineage tables, resumable from checkpoint.

This is the Spark re-expression of ``jsi_validate`` (reference:
lib/jsi/schema.rb:864-890) lifted to corpus scale per north_rule:
driver compiles the schema; executors run vectorized Column plans.
Batch runs and incremental appends commit through one core,
:meth:`ValidationPipeline._commit_unit`, with no global corpus stage:
``part`` hashes doc_id, so every copy of a doc_id shares a bucket and
uniqueness is exact per chunk of buckets. The only shuffles are (1)
ONE per-part aggregate per unit (verdict counts + column stats, a few
dozen rows collected to the driver), (2) the salted uniqueness agg,
(3) the referential anti-join (map-side when the dim broadcasts).
Violations expand on FAILING rows only — the Result::Valid/Result::Full
two-pass split (lib/jsi/validation/result.rb:185-199) done with a filter.

Only data-sized tables are written by Spark: violations and the
incremental id index. Verdicts, metrics, lineage and the drift row are
driver-sized (one row per part, or one per run) and are written with
pyarrow through the same snapshot commit. The corpus-wide drift row of
a batch run is computed concurrently with the chunks and commits after
the last one.
"""

from __future__ import annotations

import json
import math
import os
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from jsi_spark.compile.compiler import CompiledSchema, compile_schema
from jsi_spark.exec.columnar import TypedValidator
from jsi_spark.exec.drift import EPS, bin_column, quantile_edges
from jsi_spark.exec.referential import referential_violations
from jsi_spark.exec.stats import column_stats, stats_aggs, unpivot_row
from jsi_spark.exec.uniqueness import uniqueness_violations
from jsi_spark.exec.verdicts import with_part
from jsi_spark.io.checkpoint import RunState, _now
from jsi_spark.io.tableio import (SnapshotTable, arrow_table,
                                  atomic_write_json)
from jsi_spark.plans.docs_schema import DOCS_JSON_SCHEMA, DOCS_SCHEMA

VIOLATION_OUT_COLS = ("doc_id", "keyword", "ptr", "span_index",
                      "message_key", "part")

#: schemas of the driver-sized tables (pyarrow-written, Spark-typed)
DRIVER_DDL = {
    "verdicts": "part int, docs long, passed long, failed long, "
                "pass boolean",
    "metrics": "part int, column string, n_rows long, null_count long, "
               "distinct_hll long, min_val string, max_val string, "
               "kll_quantiles array<double>, psi double",
    "lineage": "run_id string, part int, snapshot_id string, "
               "status string, started_at string, finished_at string",
}
METRIC_COLS = ["doc_id", "n_spans", "valid_l"]


def _parts_done(table: SnapshotTable) -> set[int]:
    done: set[int] = set()
    for s in table.manifest()["snapshots"]:
        done.update(s.get("meta", {}).get("parts", []))
    return done


def _pending(table: SnapshotTable, key: dict) -> dict | None:
    """What of ``key`` ``table`` has not committed: for a parts key the
    parts no snapshot recorded, otherwise the whole key unless some
    snapshot's meta carries it. None when nothing is left."""
    if "parts" in key:
        todo = sorted(set(key["parts"]) - _parts_done(table))
        return {"parts": todo} if todo else None
    metas = [s.get("meta", {}) for s in table.manifest()["snapshots"]]
    return None if any(key.items() <= m.items() for m in metas) else key


def lineage_rows(run_id: str, parts, snapshot_id: str,
                 started: str) -> list[tuple]:
    return [(run_id, p, snapshot_id, "committed", started, _now())
            for p in parts]


class ValidationPipeline:
    def __init__(self, schema: dict | CompiledSchema | None = None,
                 n_buckets: int = 32, salt_buckets: int = 64,
                 drift_bins: int = 10, broadcast_dim: bool = True):
        schema = schema if schema is not None else DOCS_JSON_SCHEMA
        self.compiled = (schema if isinstance(schema, CompiledSchema)
                         else compile_schema(schema))
        self.validator = TypedValidator(self.compiled, DOCS_SCHEMA)
        self.n_buckets = n_buckets
        self.salt_buckets = salt_buckets
        self.drift_bins = drift_bins
        self.broadcast_dim = broadcast_dim

    # -- row-local stage (per partition bucket, checkpointable) -----------------

    def checked(self, docs: DataFrame) -> DataFrame:
        return with_part(docs, self.n_buckets).withColumn(
            "valid", self.validator.valid_column())

    def local_violations(self, checked: DataFrame) -> DataFrame:
        """Violation rows for keyword failures — filter-first: the
        violation expression tree never runs on passing rows."""
        return (checked.filter(~F.col("valid"))
                .select("doc_id", "part",
                        F.explode(self.validator.violations_column())
                        .alias("v"))
                .select("doc_id", F.col("v.keyword").alias("keyword"),
                        F.col("v.ptr").alias("ptr"),
                        F.col("v.span_index").alias("span_index"),
                        F.col("v.message_key").alias("message_key"),
                        "part"))

    @staticmethod
    def _flat(checked: DataFrame) -> DataFrame:
        return checked.select(
            "part", "doc_id",
            F.size("spans").alias("n_spans"),
            F.col("valid").cast("long").alias("valid_l"))

    def metrics(self, checked: DataFrame) -> DataFrame:
        return (column_stats(self._flat(checked), METRIC_COLS,
                             group_by="part")
                .withColumn("psi", F.lit(None).cast("double")))

    def part_stats(self, checked: DataFrame) -> dict[str, list]:
        """Verdict rows and metric rows (by table name) of every part in
        ``checked``, from ONE ``groupBy(part)`` aggregate collected to the
        driver:
        the :meth:`metrics` column stats plus the verdict sums of
        :func:`jsi_spark.exec.verdicts.partition_verdicts`. Rows are
        tuples in :data:`DRIVER_DDL` column order."""
        flat = self._flat(checked)
        cols, aggs = stats_aggs(flat, METRIC_COLS)
        wide = flat.groupBy("part").agg(
            *aggs, F.sum("valid_l").alias("__passed"),
            F.sum(1 - F.col("valid_l")).alias("__failed")).collect()
        return {
            "verdicts": [(r.part, r["__n_rows"], r["__passed"],
                          r["__failed"], None if r["__failed"] is None
                          else r["__failed"] == 0) for r in wide],
            "metrics": [(r.part, *stat, None)
                        for r in wide for stat in unpivot_row(r, cols)],
        }

    def corpus_violations(self, checked: DataFrame,
                          media_dim: DataFrame) -> DataFrame:
        """Uniqueness and referential violation rows. Exact over any set
        of whole part buckets: ``part`` hashes doc_id, so every copy of
        an id shares a bucket, and a dangling ref is a per-row fact."""
        uniq = uniqueness_violations(checked, "doc_id", self.salt_buckets)
        ref = referential_violations(checked, media_dim, self.broadcast_dim)
        return with_part(uniq.unionByName(ref),
                         self.n_buckets).select(*VIOLATION_OUT_COLS)

    def drift_row(self, docs_p: DataFrame, out_dir: str) -> tuple:
        """The metrics-table row holding the PSI of the n_spans
        distribution vs the first run's baseline snapshot (stored beside
        the tables). First run: PSI = 0.0 by construction and the
        baseline is persisted (atomically: a crash mid-write leaves no
        baseline, and the next run writes it)."""
        flat = docs_p.select(F.size("spans").cast("double").alias("x"))
        baseline_path = os.path.join(out_dir, "drift_baseline.json")
        if os.path.exists(baseline_path):
            with open(baseline_path) as f:
                base = json.load(f)
            edges, ref_shares = base["edges"], base["shares"]
        else:
            edges = quantile_edges(flat, "x", self.drift_bins)
            ref_shares = None
        rows = (flat.select(bin_column(F.col("x"), edges).alias("b"))
                .groupBy("b").count().collect())
        total = sum(r["count"] for r in rows) or 1
        shares = {int(r["b"]): r["count"] / total for r in rows}
        cur = [shares.get(i, 0.0) for i in range(-1, len(edges) + 1)]
        if ref_shares is None:
            ref_shares = cur
            atomic_write_json(baseline_path, {"edges": edges, "shares": cur})
        psi_val = sum((p - q) * math.log((p + EPS) / (q + EPS))
                      for p, q in zip(cur, ref_shares))
        return (-1, "n_spans_psi", None, None, None, None, None, None,
                float(psi_val))

    def drift_metrics(self, docs_p: DataFrame, out_dir: str) -> DataFrame:
        """:meth:`drift_row` as a one-row metrics DataFrame."""
        return docs_p.sparkSession.createDataFrame(
            [self.drift_row(docs_p, out_dir)], DRIVER_DDL["metrics"])

    # -- orchestration --------------------------------------------------------------

    def _commit_unit(self, tables: dict[str, SnapshotTable],
                     rows: DataFrame, media_dim: DataFrame, key: dict,
                     lineage, add: dict | None = None) -> str:
        """Commit one unit of work — the checked ``rows`` of a chunk of
        part buckets (key ``{"parts": [...]}``) or of one source snapshot
        (key ``{"source_snapshot": sid}``) — and return the first snapshot
        it committed ("snap-preexisting" if none).

        The rows are persisted once. Concurrently, as pool tasks: each
        data-sized table (any not in :data:`DRIVER_DDL`) stages one
        Spark batch — violations are keyword ∪ uniqueness ∪ referential
        ∪ ``add["violations"](rows)``, another table (the id index) is
        ``add[name](rows)`` alone; one :meth:`part_stats` aggregate is
        collected; and each driver-sized ``add`` callable returns extra
        rows for its table (an append's drift row). Tables then commit
        in order; verdicts, metrics and ``lineage(todo, snap)`` rows are
        written with pyarrow as they commit (~1 ms each: lineage rows
        carry the unit's first snapshot id, so they are built once the
        data tables committed). The last of ``tables`` is the caller's
        marker (lineage for batch, the id index for appends), committed
        after all others. A table that recorded the key, or some of a
        chunk's parts, commits only the rest: neither a crash between
        commits nor a rechunked resume commits a row twice."""
        add = add or {}
        *data, last = tables
        todo = {name: _pending(tables[name], key) for name in tables}

        def rows_for(part_key):
            return (rows if part_key == key else
                    rows.filter(F.col("part").isin(part_key["parts"])))

        core = {"violations": lambda r: self.local_violations(r)
                .unionByName(self.corpus_violations(r, media_dim))}

        def stage(name):
            r = rows_for(todo[name])
            return tables[name].stage_batch(reduce(
                DataFrame.unionByName,
                [f(r) for f in (core.get(name), add.get(name)) if f]))

        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            with ThreadPoolExecutor(max_workers=4) as pool:
                staged = {n: pool.submit(stage, n) for n in tables
                          if n not in DRIVER_DDL and todo[n]}
                stats = (pool.submit(self.part_stats, rows)
                         if todo["verdicts"] or todo["metrics"] else None)
                extra = {n: pool.submit(f, rows_for(todo[n]))
                         for n, f in add.items()
                         if n in DRIVER_DDL and todo[n]}
                snaps: list[str] = []

                def first_snap():
                    return snaps[0] if snaps else "snap-preexisting"

                def driver_rows(name):
                    if name == "lineage":
                        return lineage(todo[name], first_snap())
                    got = stats.result()[name]
                    if todo[name] != key:
                        got = [r for r in got if r[0] in todo[name]["parts"]]
                    return got + (extra[name].result() if name in extra
                                  else [])

                def commit(name):
                    if name in staged:
                        return tables[name].commit(
                            [staged[name].result()], todo[name])
                    return tables[name].append(
                        arrow_table(driver_rows(name), DRIVER_DDL[name]),
                        todo[name])

                for name in data:
                    if todo[name]:
                        snaps.append(commit(name))
                snap = first_snap()
                if todo[last]:
                    commit(last)
            return snap
        finally:
            rows.unpersist()

    def run(self, spark: SparkSession, docs: DataFrame,
            media_dim: DataFrame, out_dir: str,
            parts_per_job: int | None = None,
            fail_after_jobs: int | None = None) -> dict:
        """Execute (or resume) a validation run. ``parts_per_job`` bounds
        how many partition buckets commit together (default: all pending
        in one job — fewer, bigger jobs; tests use small values to
        exercise resume). ``fail_after_jobs`` simulates a crash for the
        kill/restart test. Each chunk's lineage commits last, before the
        run state records its parts. The corpus-wide drift row is
        computed concurrently with the chunks and commits after the
        last one."""
        state = RunState(out_dir)
        tables = {name: SnapshotTable(out_dir, name)
                  for name in ("violations", "verdicts", "metrics",
                               "lineage")}
        docs_p = self.checked(docs)
        drift_key = {"stage": "drift"}

        pending = sorted(set(range(self.n_buckets)) -
                         state.completed_parts())
        chunk = parts_per_job or max(len(pending), 1)
        with ThreadPoolExecutor(max_workers=1) as bg:
            drift = (bg.submit(self.drift_row, docs_p, out_dir)
                     if not state.global_done
                     and _pending(tables["metrics"], drift_key) else None)
            for j, i in enumerate(range(0, len(pending), chunk)):
                if fail_after_jobs is not None and j >= fail_after_jobs:
                    raise RuntimeError("simulated crash for resume test")
                parts, started = pending[i:i + chunk], _now()
                snap = self._commit_unit(
                    tables, docs_p.filter(F.col("part").isin(parts)),
                    media_dim, {"parts": parts},
                    lambda todo, snap: lineage_rows(
                        state.run_id, todo["parts"], snap, started))
                state.commit_parts(parts, snap, started)
            if drift is not None:
                tables["metrics"].append(
                    arrow_table([drift.result()], DRIVER_DDL["metrics"]),
                    drift_key)
        if not state.global_done:
            state.mark_global_done()

        return {
            "run_id": state.run_id,
            "completed_parts": sorted(state.completed_parts()),
            "tables": {k: v.dir for k, v in tables.items()},
        }
