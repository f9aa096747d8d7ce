"""Snapshot-committed table layer: parquet + JSON manifest.

No Iceberg runtime jar ships in this sandbox (SURVEY.md §7.0), so this
implements the subset of Iceberg's semantics the engine relies on, behind
one small interface:

- a table = a directory of immutable parquet *batch* directories;
- a manifest (JSON, atomically renamed into place) lists committed
  batches — readers see ONLY committed data (snapshot isolation);
- a failed job leaves orphan batch dirs that no manifest references:
  harmless, cleaned lazily.

A batch is written either by Spark (:meth:`SnapshotTable.stage_batch`,
data-sized frames) or by pyarrow (:meth:`SnapshotTable.stage_arrow`,
driver-sized tables of a few dozen rows, ~1 ms instead of a Spark
job). Both go through the same manifest commit, and :func:`arrow_table`
types the pyarrow rows from the same Spark DDL, so mixed batches read
back as one table.

On a real cluster this class is swapped for Iceberg catalog tables
(``spark.read.format("iceberg")``); everything above this interface is
unchanged.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def atomic_write_json(path: str, obj, indent: int | None = None) -> None:
    """Write ``obj`` as JSON to ``path`` all-or-nothing: a tmp file
    renamed into place, so a crash mid-dump leaves the old file (or
    none), never a torn one."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=indent)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


@lru_cache(maxsize=None)
def arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema of a Spark DDL string (needs an active
    session: Spark parses the DDL)."""
    return to_arrow_schema(DataType.fromDDL(ddl))


def arrow_table(rows, ddl: str) -> pa.Table:
    """Driver-side rows (tuples in DDL column order) as a pyarrow table
    typed like the Spark DDL — a pyarrow batch reads back with the same
    types as a Spark batch of that DDL."""
    schema = arrow_schema(ddl)
    return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                schema=schema)


def parquet_num_rows(path: str) -> int:
    """Exact row count of a parquet file/directory from FOOTER METADATA
    only — zero Spark jobs, zero data pages read. This is how parameter
    sizing (e.g. LSH plane counts scaled to corpus size) must get its
    count at 100 TB: Iceberg keeps the same statistic in snapshot
    summaries (`total-records`); `df.count()` would be a whole scan job
    for one integer."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    return sum(frag.metadata.num_rows
               for frag in dataset.get_fragments())


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.manifest_path = os.path.join(self.dir, "manifest.json")
        os.makedirs(self.dir, exist_ok=True)

    # -- manifest ------------------------------------------------------------

    def manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"snapshots": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, m: dict) -> None:
        atomic_write_json(self.manifest_path, m, indent=1)  # the commit

    def committed_batches(self) -> list[str]:
        out: list[str] = []
        for s in self.manifest()["snapshots"]:
            if s.get("meta", {}).get("operation") == "replace":
                out = []  # a compaction snapshot supersedes all before it
            out.extend(s["batches"])
        return out

    # -- write (staged) / commit ----------------------------------------------

    @staticmethod
    def _new_batch() -> str:
        return f"batch-{uuid.uuid4().hex[:12]}"

    def stage_batch(self, df: DataFrame) -> str:
        """Write a new batch dir with Spark; NOT visible until commit()."""
        batch = self._new_batch()
        df.write.mode("overwrite").parquet(os.path.join(self.dir, batch))
        return batch

    def stage_arrow(self, table: pa.Table) -> str:
        """Write a new batch dir holding ``table`` as one parquet file
        (driver-side, no Spark job); NOT visible until commit()."""
        batch = self._new_batch()
        os.makedirs(os.path.join(self.dir, batch))
        pq.write_table(table, os.path.join(self.dir, batch,
                                           "part-00000.parquet"))
        return batch

    def commit(self, batches: list[str], meta: dict | None = None) -> str:
        m = self.manifest()
        snapshot_id = f"snap-{len(m['snapshots']):06d}-{uuid.uuid4().hex[:8]}"
        m["snapshots"].append({
            "snapshot_id": snapshot_id,
            "batches": batches,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                          time.gmtime()),
            "meta": meta or {},
        })
        self._write_manifest(m)
        return snapshot_id

    def append(self, data: DataFrame | pa.Table,
               meta: dict | None = None) -> str:
        """Stage ``data`` (a Spark DataFrame, or a driver-sized pyarrow
        table) as one batch and commit it."""
        if isinstance(data, pa.Table):
            return self.commit([self.stage_arrow(data)], meta)
        return self.commit([self.stage_batch(data)], meta)

    # -- read -----------------------------------------------------------------

    def read(self, spark: SparkSession, as_of: str | None = None,
             merge_schema: bool = True,
             schema: str | None = None) -> DataFrame | None:
        """Committed rows; ``as_of`` reads the table AS OF that
        snapshot id (inclusive) — Iceberg time travel (`VERSION AS OF`)
        over the manifest's snapshot log.

        ``merge_schema`` (default on) unions batch schemas by name so
        an append with an EVOLVED schema (new nullable column) reads
        correctly — pre-evolution rows surface NULL for the new column,
        Iceberg's add-column semantics. Without it Spark silently takes
        the first file's schema and drops the new column. (Iceberg
        tracks the schema in table metadata instead of footers; this
        layer pays the footer union, which is what the sandbox has.)

        ``schema`` (a DDL string) fixes the read schema instead: no
        footer is read at planning time, so a table that gains a batch
        per append does not pay a schema-inference job that grows with
        its batch count."""
        batches = []
        for s in self.manifest()["snapshots"]:
            if s.get("meta", {}).get("operation") == "replace":
                batches = []
            batches.extend(s["batches"])
            if as_of is not None and s["snapshot_id"] == as_of:
                break
        else:
            if as_of is not None:
                raise KeyError(f"unknown snapshot {as_of!r}")
        if not batches:
            return None
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        elif merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(
            *[os.path.join(self.dir, b) for b in batches])

    def num_rows(self) -> int:
        """Iceberg snapshot-summary `total-records` analog: exact row
        count from committed batches' parquet footers — no Spark job."""
        return sum(parquet_num_rows(os.path.join(self.dir, b))
                   for b in self.committed_batches())

    # -- maintenance -----------------------------------------------------------

    def compact(self, spark: SparkSession,
                target_files: int = 8) -> str | None:
        """Rewrite every visible batch into one new batch dir and commit
        a REPLACE snapshot (Iceberg rewrite_data_files): readers switch
        atomically from many small files to the compacted set; older
        snapshots stay time-travelable until :meth:`expire_snapshots`.
        Incremental appends naturally accrete small files — compaction
        is their companion (IncrementalValidator skips replace
        snapshots: they carry no NEW rows to validate)."""
        batches = self.committed_batches()
        if len(batches) <= 1:
            return None
        # read() merges schemas, so compaction writes the EVOLVED
        # schema for every row (old rows get NULL in added columns)
        staged = self.stage_batch(self.read(spark).coalesce(target_files))
        return self.commit([staged], {"operation": "replace",
                                      "compacted_batches": len(batches)})

    def expire_snapshots(self) -> list[str]:
        """Drop every snapshot before the LAST replace snapshot
        (Iceberg expire_snapshots): their exclusive batch dirs become
        orphans for :meth:`vacuum`. Time travel to expired ids stops
        working — run maintenance only once downstream consumers (e.g.
        incremental validators) have consumed all data snapshots."""
        m = self.manifest()
        snaps = m["snapshots"]
        last = max((i for i, s in enumerate(snaps)
                    if s.get("meta", {}).get("operation") == "replace"),
                   default=None)
        if last is None:
            return []
        expired = [s["snapshot_id"] for s in snaps[:last]]
        m["snapshots"] = snaps[last:]
        self._write_manifest(m)
        return expired

    def vacuum(self) -> list[str]:
        """Delete orphan batch dirs no snapshot references (the debris
        of crashed stage_batch calls — Iceberg's remove_orphan_files).
        Never touches committed data; returns removed batch names."""
        import shutil

        live = set(self.committed_batches())
        removed = []
        for entry in os.listdir(self.dir):
            if entry.startswith("batch-") and entry not in live:
                shutil.rmtree(os.path.join(self.dir, entry),
                              ignore_errors=True)
                removed.append(entry)
        return removed
