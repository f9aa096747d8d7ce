"""Incremental (delta) validation: validate ONLY corpus snapshots
appended since the last run — history is never re-scanned.

The batch pipeline (jsi_spark.pipeline.ValidationPipeline) validates a
whole corpus; at 10^12 docs a full pass is an event, not a routine. The
production routine is: data arrives as table APPENDS (Iceberg
snapshots), and each append must be validated on landing. This module
lifts the same stages to that shape (north_rule: "resumable from
checkpoint with per-partition lineage + metrics tables"; the reference
re-validates a document when it changes — lib/jsi/base/mutability.rb's
jsi_mutating re-derivation — this is the corpus-scale analog: only what
changed is re-examined).

100 TB design:
- **Only new batches are scanned.** A daily append of 10^9 docs is
  validated in minutes while the 10^12-doc history stays cold; cost is
  O(delta), not O(corpus).
- **Cross-snapshot uniqueness via a compact id-index table** holding
  (doc_id, part) for every consumed doc: the delta semi-joins the
  index. The index is ~1-2% of corpus bytes (no text), and it is read
  with its fixed schema: no footer-inference job, whatever its batch
  count. In production
  both sides are bucketed by doc_id so the join is a shuffle-free
  sort-merge; here Spark picks broadcast/SMJ by size. Intra-delta
  duplicates use the same salted two-phase agg as the batch pass.
- **Referential and keyword checks are delta-local** (the media dim is
  a dimension join, identical to the batch pass).
- **Drift is measured against the FIRST snapshot's persisted baseline**
  (drift_baseline.json, written by the earliest run): each delta's
  n_spans distribution gets a PSI against it — exactly the "is today's
  append shaped like the corpus start" question drift monitoring asks.
  The drift row is its own concurrent task in the commit unit.
- **Idempotent per (output table, input snapshot).** Each snapshot is
  one unit of the batch pipeline's commit core
  (``ValidationPipeline._commit_unit``): its checked rows are persisted
  once (the cache is bounded by the append, not the corpus), and each
  append carries meta {"source_snapshot": sid}. Violations and the id
  index are the only Spark writes, staged concurrently; verdicts,
  metrics (+ the drift row) and lineage are driver-sized pyarrow
  writes. A crashed run re-runs only the table×snapshot cells that
  never committed, so restarts never double-append. The id-index
  COMMIT is last — a snapshot counts as consumed only once its ids are
  committed to the index; a batch staged before a crash stays an
  orphan that no manifest lists.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsi_spark.exec.verdicts import with_part
from jsi_spark.io.checkpoint import _now
from jsi_spark.io.tableio import SnapshotTable
from jsi_spark.pipeline import ValidationPipeline, lineage_rows

CROSS_DUP_KEY = "validation.corpus.duplicate_doc_id.cross_snapshot"

OUT_TABLES = ("violations", "verdicts", "metrics", "lineage", "id_index")

#: the id index's fixed schema: read with it, no footer inference runs
ID_INDEX_DDL = "doc_id string, part int"


class IncrementalValidator:
    """Consumes a corpus :class:`SnapshotTable` snapshot-by-snapshot."""

    def __init__(self, corpus: SnapshotTable, out_dir: str,
                 schema: dict | None = None, n_buckets: int = 32,
                 salt_buckets: int = 64, broadcast_dim: bool = True,
                 pipeline: ValidationPipeline | None = None):
        self.corpus = corpus
        self.out_dir = out_dir
        # a prebuilt pipeline skips recompiling the schema (the typed
        # validator's Column tree costs driver seconds to build and is
        # reusable across any corpus with the same struct)
        self.pipeline = pipeline or ValidationPipeline(
            schema, n_buckets=n_buckets, salt_buckets=salt_buckets,
            broadcast_dim=broadcast_dim)
        self.tables = {n: SnapshotTable(out_dir, n) for n in OUT_TABLES}

    # -- snapshot bookkeeping ---------------------------------------------------

    def _sources(self, table: str) -> set[str]:
        return {s["meta"]["source_snapshot"]
                for s in self.tables[table].manifest()["snapshots"]
                if "source_snapshot" in s.get("meta", {})}

    def consumed(self) -> set[str]:
        """Snapshots fully processed — ids indexed (the LAST commit)."""
        return self._sources("id_index")

    def pending(self) -> list[dict]:
        """Data snapshots not yet consumed. Maintenance snapshots
        (compaction REPLACEs) are skipped — they rewrite already-
        validated rows into fewer files and carry nothing new."""
        done = self.consumed()
        return [s for s in self.corpus.manifest()["snapshots"]
                if s["snapshot_id"] not in done
                and s.get("meta", {}).get("operation") != "replace"]

    def _snapshot_df(self, spark: SparkSession, snap: dict) -> DataFrame:
        return spark.read.parquet(
            *[os.path.join(self.corpus.dir, b) for b in snap["batches"]])

    # -- one delta ---------------------------------------------------------------

    def cross_snapshot_dups(self, checked: DataFrame,
                            spark: SparkSession) -> DataFrame:
        """Delta doc_ids already present in ANY consumed snapshot, as
        violation rows. Semi-join against the id index — never the
        corpus itself."""
        dups = checked.select(
            "doc_id", F.lit("uniqueness").alias("keyword"),
            F.lit("/doc_id").alias("ptr"),
            F.lit(None).cast("int").alias("span_index"),
            F.lit(CROSS_DUP_KEY).alias("message_key"), "part")
        idx = self.tables["id_index"].read(spark, schema=ID_INDEX_DDL)
        if idx is None:  # first snapshot: nothing to collide with
            return dups.limit(0)
        return dups.join(idx.select("doc_id"), "doc_id", "left_semi")

    # -- public API ----------------------------------------------------------------

    def run_once(self, spark: SparkSession,
                 media_dim: DataFrame) -> dict:
        """Validate every pending snapshot, oldest first, each as one
        commit unit. Returns the snapshot ids consumed by THIS call."""
        vp, consumed = self.pipeline, []
        for snap in self.pending():
            sid, started = snap["snapshot_id"], _now()
            src = self._snapshot_df(spark, snap)
            vp._commit_unit(
                self.tables, vp.checked(src), media_dim,
                {"source_snapshot": sid},
                lambda *_: lineage_rows(f"inc-{sid}", range(vp.n_buckets),
                                        sid, started),
                add={
                    "violations": lambda rows: self.cross_snapshot_dups(
                        rows, spark),
                    "metrics": lambda rows: [vp.drift_row(
                        rows, self.out_dir)],
                    # from the source's doc_id column, not the checked
                    # rows: the index needs no validation, so its write
                    # does not wait for the persisted rows
                    "id_index": lambda _: with_part(
                        src.select("doc_id"), vp.n_buckets),
                })
            consumed.append(sid)
        return {"consumed": consumed,
                "tables": {k: v.dir for k, v in self.tables.items()}}

    def merged_verdicts(self, spark: SparkSession) -> DataFrame | None:
        """Corpus-wide per-part verdicts folded over every consumed
        snapshot — equals the batch pipeline's verdicts over the union
        corpus (keyword verdicts are row-local, so they add)."""
        v = self.tables["verdicts"].read(spark)
        if v is None:
            return None
        return (v.groupBy("part")
                .agg(F.sum("docs").alias("docs"),
                     F.sum("passed").alias("passed"),
                     F.sum("failed").alias("failed"))
                .withColumn("pass", F.col("failed") == 0))

    def violations(self, spark: SparkSession,
                   source_snapshot: str | None = None) -> DataFrame | None:
        """All violation rows, or only those found while validating one
        input snapshot (per-append audit — the common read)."""
        t = self.tables["violations"]
        if source_snapshot is None:
            return t.read(spark)
        batches = [b for s in t.manifest()["snapshots"]
                   if s["meta"].get("source_snapshot") == source_snapshot
                   for b in s["batches"]]
        if not batches:
            return None
        return spark.read.parquet(
            *[os.path.join(t.dir, b) for b in batches])
