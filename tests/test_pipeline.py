"""End-to-end pipeline: verdicts/violations/metrics/lineage tables,
checkpoint resume (kill/restart), corpus ops vs independent oracles,
span-sequence equality invariant (FIXTURES.md §5-6)."""

import math

import pytest
from pyspark.sql import functions as F

from jsi_spark.datagen import HOT_DOC_ID, gen_docs, gen_media_dim
from jsi_spark.exec.drift import psi
from jsi_spark.exec.referential import dangling_refs
from jsi_spark.exec.uniqueness import duplicate_keys
from jsi_spark.pipeline import ValidationPipeline

N_DOCS, N_MEDIA = 1500, 120


@pytest.fixture(scope="module")
def docs(spark):
    return gen_docs(spark, N_DOCS, n_media=N_MEDIA, seed=42).cache()


@pytest.fixture(scope="module")
def media(spark):
    return gen_media_dim(spark, N_MEDIA, seed=42).cache()


def _read_all(spark, result):
    from jsi_spark.io.tableio import SnapshotTable

    out = {}
    for name, d in result["tables"].items():
        root, table = d.rsplit("/", 1)
        out[name] = SnapshotTable(root, table).read(spark)
    return out


def test_full_run_outputs(spark, docs, media, tmp_path):
    pipe = ValidationPipeline(n_buckets=8)
    result = pipe.run(spark, docs, media, str(tmp_path / "out"))
    t = _read_all(spark, result)

    verd = t["verdicts"].collect()
    assert sum(r.docs for r in verd) == N_DOCS
    assert all(r.passed + r.failed == r.docs for r in verd)
    assert {r.part for r in verd} == set(range(8))

    kws = {r.keyword for r in t["violations"].select("keyword")
           .distinct().collect()}
    # row-local keyword families + corpus-level constraints all fired
    assert {"enum", "required", "minimum", "pattern",
            "uniqueItems", "$ref"} <= kws

    # hot doc_id must be flagged as duplicate
    hot = t["violations"].filter(
        (F.col("doc_id") == HOT_DOC_ID)
        & (F.col("keyword") == "uniqueItems")).count()
    assert hot > 1

    # lineage covers every part with committed status
    lin = t["lineage"].collect()
    assert {r.part for r in lin} == set(range(8))
    assert all(r.status == "committed" for r in lin)

    # metrics: per-part rows + the global drift row
    met = t["metrics"]
    assert met.filter(F.col("part") >= 0).count() == 8 * 3  # 3 columns
    drift_rows = met.filter(F.col("part") == -1).collect()
    assert len(drift_rows) == 1
    assert drift_rows[0].psi == pytest.approx(0.0, abs=1e-9)


def test_resume_after_crash_equals_full_run(spark, docs, media, tmp_path):
    full_dir = str(tmp_path / "full")
    resum_dir = str(tmp_path / "resumable")
    pipe = ValidationPipeline(n_buckets=8)
    pipe.run(spark, docs, media, full_dir)

    with pytest.raises(RuntimeError, match="simulated crash"):
        ValidationPipeline(n_buckets=8).run(
            spark, docs, media, resum_dir, parts_per_job=2,
            fail_after_jobs=2)
    # restart: must skip the 4 committed parts and finish the rest
    from jsi_spark.io.checkpoint import RunState

    assert len(RunState(resum_dir).completed_parts()) == 4
    result = ValidationPipeline(n_buckets=8).run(
        spark, docs, media, resum_dir, parts_per_job=2)
    assert result["completed_parts"] == list(range(8))

    ta = _read_all(spark, {"tables": {
        n: f"{full_dir}/{n}" for n in ("violations", "verdicts")}})
    tb = _read_all(spark, {"tables": {
        n: f"{resum_dir}/{n}" for n in ("violations", "verdicts")}})
    for name in ("violations", "verdicts"):
        a, b = ta[name], tb[name]
        assert a.exceptAll(b).count() == 0, f"{name}: full has extra rows"
        assert b.exceptAll(a).count() == 0, f"{name}: resumed has extra rows"


def test_uniqueness_matches_pandas_oracle(spark, docs):
    engine = {(r.doc_id, r.dup_count)
              for r in duplicate_keys(docs, "doc_id").collect()}
    pdf = docs.select("doc_id").toPandas()
    counts = pdf.value_counts("doc_id")
    oracle = {(k, int(v)) for k, v in counts.items() if v > 1}
    assert engine == oracle


def test_referential_matches_pandas_oracle(spark, docs, media):
    engine = {(r.doc_id, r.span_index, r.media_ref)
              for r in dangling_refs(docs, media).collect()}
    known = {r.media_ref for r in media.select("media_ref").collect()}
    oracle = set()
    for row in docs.collect():
        for i, s in enumerate(row.spans):
            if s.media_ref is not None and s.media_ref not in known:
                oracle.add((row.doc_id, i, s.media_ref))
    assert engine == oracle
    # sort-merge path must agree with broadcast path
    sm = {(r.doc_id, r.span_index, r.media_ref)
          for r in dangling_refs(docs, media,
                                 broadcast_dim=False).collect()}
    assert sm == oracle


def test_span_sequence_equality_invariant(spark, docs):
    """input_hint per-row invariant: (kind, text, media_ref, order)
    recomputed by the engine equals the reference expectation, via full
    outer join on (doc_id, pos) with zero mismatches (FIXTURES.md §6)."""
    from jsi_spark.datagen import reference_spans

    ref = reference_spans(docs)
    # engine recompute through a different plan: posexplode of transform
    recomputed = docs.select(
        "doc_id",
        F.posexplode(F.transform(
            "spans", lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref")))).alias("pos", "s")
    ).select("doc_id", "pos", "s.kind", "s.text", "s.media_ref")
    # multiset equality (null-safe; a plain inner join would drop rows
    # whose text/media_ref is legitimately NULL)
    assert ref.count() == recomputed.count()
    assert ref.exceptAll(recomputed).count() == 0
    assert recomputed.exceptAll(ref).count() == 0


def test_psi_detects_shift(spark):
    a = spark.range(20000).select(
        (F.pmod(F.xxhash64("id"), 1000) / 100.0).alias("x"))
    b = spark.range(20000).select(
        ((F.pmod(F.xxhash64("id", F.lit(1)), 1000) / 100.0) + 4.0)
        .alias("x"))
    same = psi(a, a, "x").head().psi
    shifted = psi(b, a, "x").head().psi
    assert abs(same) < 1e-6
    assert shifted > 0.25
    assert math.isfinite(shifted)


def test_resume_after_crash_between_table_commits(spark, docs, media,
                                                  tmp_path):
    """A crash AFTER the violations table committed a job's buckets but
    BEFORE verdicts/metrics committed must not double-commit violations
    on resume (per-table parts idempotency)."""
    from unittest import mock

    from jsi_spark.io.tableio import SnapshotTable

    out = str(tmp_path / "out_partial")
    pipe = ValidationPipeline(n_buckets=8)
    orig_commit = SnapshotTable.commit
    calls = {"n": 0}

    def flaky(self, batches, meta=None):
        snap = orig_commit(self, batches, meta)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("crash between table commits")
        return snap

    with mock.patch.object(SnapshotTable, "commit", flaky):
        with pytest.raises(RuntimeError, match="between table commits"):
            pipe.run(spark, docs, media, out, parts_per_job=4)

    result = ValidationPipeline(n_buckets=8).run(spark, docs, media, out,
                                                 parts_per_job=4)
    t = _read_all(spark, result)

    clean = ValidationPipeline(n_buckets=8).run(
        spark, docs, media, str(tmp_path / "out_clean"), parts_per_job=4)
    tc = _read_all(spark, clean)

    for name in ("violations", "verdicts"):
        got = t[name].count()
        want = tc[name].count()
        assert got == want, f"{name}: resumed={got} clean={want}"
    # verdict contents identical, not just counts
    a = {tuple(r) for r in t["verdicts"].collect()}
    b = {tuple(r) for r in tc["verdicts"].collect()}
    assert a == b


def test_resume_with_different_chunking_no_duplicates(spark, docs, media,
                                                      tmp_path):
    """Crash mid-run with parts_per_job=3, resume with parts_per_job=4:
    the resumed job's chunks straddle the committed buckets, and only
    the per-part (not per-chunk) idempotency check avoids re-committing
    the overlap."""
    from unittest import mock

    from jsi_spark.io.tableio import SnapshotTable

    out = str(tmp_path / "out_rechunk")
    orig_commit = SnapshotTable.commit
    calls = {"n": 0}

    def flaky(self, batches, meta=None):
        snap = orig_commit(self, batches, meta)
        calls["n"] += 1
        if calls["n"] == 1:   # violations for parts [0,1,2] committed
            raise RuntimeError("crash after first table commit")
        return snap

    with mock.patch.object(SnapshotTable, "commit", flaky):
        with pytest.raises(RuntimeError, match="after first table"):
            ValidationPipeline(n_buckets=8).run(
                spark, docs, media, out, parts_per_job=3)

    result = ValidationPipeline(n_buckets=8).run(spark, docs, media, out,
                                                 parts_per_job=4)
    t = _read_all(spark, result)
    clean = ValidationPipeline(n_buckets=8).run(
        spark, docs, media, str(tmp_path / "out_rechunk_clean"))
    tc = _read_all(spark, clean)
    for name in ("violations", "verdicts", "metrics"):
        a, b = t[name], tc[name]
        assert a.count() == b.count(), \
            f"{name}: resumed={a.count()} clean={b.count()}"
        assert a.exceptAll(b).count() == 0, f"{name}: extra rows"
    # lineage snapshot ids are never NULL (pre-existing commits get the
    # explicit placeholder)
    assert t["lineage"].filter(F.col("snapshot_id").isNull()).count() == 0


def test_resume_after_crash_at_lineage_write(spark, docs, media,
                                             tmp_path):
    """A crash while a chunk's lineage rows are written must not leave
    its parts without lineage: the run state records the parts only
    after lineage committed, so the resume writes the missing rows —
    once per part, without re-committing the data tables."""
    import os
    from unittest import mock

    from jsi_spark.io.tableio import SnapshotTable

    out = str(tmp_path / "out_lineage")
    orig_append = SnapshotTable.append

    def flaky(self, df, meta=None):
        if os.path.basename(self.dir) == "lineage":
            raise RuntimeError("crash at lineage write")
        return orig_append(self, df, meta)

    with mock.patch.object(SnapshotTable, "append", flaky):
        with pytest.raises(RuntimeError, match="at lineage write"):
            ValidationPipeline(n_buckets=8).run(spark, docs, media, out)

    result = ValidationPipeline(n_buckets=8).run(spark, docs, media, out)
    assert result["completed_parts"] == list(range(8))
    t = _read_all(spark, result)
    assert t["lineage"] is not None, "no lineage rows after resume"
    assert sorted(r.part for r in t["lineage"].collect()) == list(range(8))
    assert sum(r.docs for r in t["verdicts"].collect()) == N_DOCS


def _ops_docs(spark):
    """Small corpus with planted exact dups, a hot stratum, and
    probe-overlapping docs — every standard stage has work to do."""
    rows = []
    for i in range(120):
        src = "hot" if i % 3 == 0 else f"s{i % 5}"
        text = f"unique document number {i} with some shared words"
        if i % 10 == 7:
            text = "exactly duplicated payload text"      # exact dups
        if i % 25 == 3:
            text = "the secret benchmark sentence appears here verbatim"
        rows.append((i, src, text))
    return spark.createDataFrame(rows, "doc_id long, source string, "
                                       "text string")


def test_ops_pipeline_stages_and_resume(spark, tmp_path):
    """LLM-ops pipeline (dedup → quota-cap → decontaminate) as
    registered, checkpointed stages: a simulated crash mid-run resumes
    at bucket granularity, never recomputes committed stages, and the
    resumed result equals a clean uninterrupted run (incl. lineage
    rows for every stage × bucket)."""
    from jsi_spark.ops.pipeline import (
        OpsPipeline, decontaminate_stage, dedup_exact_stage,
        quota_cap_stage)

    docs = _ops_docs(spark)
    probe = spark.createDataFrame(
        [(0, "the secret benchmark sentence appears here verbatim")],
        "doc_id long, text string")

    def build():
        return (OpsPipeline(n_buckets=4)
                .add_stage("dedup", dedup_exact_stage())
                .add_stage("quota", quota_cap_stage(cap=20))
                .add_stage("decontam", decontaminate_stage(probe)))

    clean = build().run(spark, docs, str(tmp_path / "clean"))
    out = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated crash"):
        build().run(spark, docs, out, parts_per_job=2,
                    fail_after_commits=3)
    resumed = build().run(spark, docs, out, parts_per_job=2)

    from jsi_spark.io.tableio import SnapshotTable

    def final_df(result):
        root, table = result["stages"]["decontam"].rsplit("/", 1)
        return SnapshotTable(root, table).read(spark).drop("part")

    a, b = final_df(clean), final_df(resumed)
    assert a.count() == b.count() == clean["rows"] == resumed["rows"]
    assert a.exceptAll(b).count() == 0

    # semantic spot checks: dups collapsed, cap enforced, probe leak out
    ids = {r.doc_id for r in b.collect()}
    dup_ids = [i for i in range(120) if i % 10 == 7]
    assert len(ids & set(dup_ids)) == 1, "one canonical exact-dup kept"
    per_src = b.groupBy("source").count().collect()
    assert all(r["count"] <= 20 for r in per_src)
    assert not any(i % 25 == 3 for i in ids), "contaminated docs dropped"

    # lineage covers every stage × bucket exactly once after resume
    lroot, ltable = resumed["lineage"].rsplit("/", 1)
    lin = SnapshotTable(lroot, ltable).read(spark)
    per = lin.groupBy("stage", "part").count().collect()
    assert {(r.stage, r.part) for r in per} == {
        (s, p) for s in ("dedup", "quota", "decontam") for p in range(4)}
    assert all(r["count"] == 1 for r in per), "no double-committed bucket"
    # the crashed run and the resume run both appear in lineage
    assert lin.select("run_id").distinct().count() == 2


def test_snapshot_time_travel_and_vacuum(spark, tmp_path):
    """Iceberg-semantics subset: VERSION AS OF over the snapshot log,
    and orphan-batch vacuum that never touches committed data."""
    from jsi_spark.io.tableio import SnapshotTable

    t = SnapshotTable(str(tmp_path), "tt")
    s1 = t.append(spark.range(3).selectExpr("id", "'a' AS tag"))
    s2 = t.append(spark.range(2).selectExpr("id + 10 AS id", "'b' AS tag"))
    orphan = t.stage_batch(spark.range(5))     # staged, never committed
    assert t.read(spark).count() == 5
    assert t.read(spark, as_of=s1).count() == 3
    assert t.read(spark, as_of=s2).count() == 5
    with pytest.raises(KeyError):
        t.read(spark, as_of="snap-nope")
    assert t.vacuum() == [orphan]
    assert t.read(spark).count() == 5          # committed data intact
    assert t.read(spark, as_of=s1).count() == 3


def test_snapshot_compaction_and_expiry(spark, tmp_path):
    """Iceberg rewrite_data_files analog: compact() commits a REPLACE
    snapshot readers switch to atomically; time travel to pre-compaction
    snapshots keeps working until expire_snapshots(); expiry + vacuum
    reclaims the superseded batch dirs without touching visible data."""
    import os

    from jsi_spark.io.tableio import SnapshotTable

    t = SnapshotTable(str(tmp_path), "ct")
    s1 = t.append(spark.range(3).selectExpr("id", "'a' AS tag"))
    t.append(spark.range(2).selectExpr("id + 10 AS id", "'b' AS tag"))
    old_batches = t.committed_batches()
    assert len(old_batches) == 2

    snap = t.compact(spark, target_files=1)
    assert snap is not None
    # visible data unchanged, now served by ONE batch
    assert t.read(spark).count() == 5
    assert {r.tag for r in t.read(spark).collect()} == {"a", "b"}
    assert len(t.committed_batches()) == 1
    assert t.num_rows() == 5
    # time travel across the replace boundary still works
    assert t.read(spark, as_of=s1).count() == 3
    # compacting a single-batch table is a no-op
    assert t.compact(spark) is None

    expired = t.expire_snapshots()
    assert len(expired) == 2
    removed = t.vacuum()
    assert set(removed) == set(old_batches)
    assert t.read(spark).count() == 5
    for b in old_batches:
        assert not os.path.exists(os.path.join(t.dir, b))


def test_appends_after_compaction_accumulate(spark, tmp_path):
    from jsi_spark.io.tableio import SnapshotTable

    t = SnapshotTable(str(tmp_path), "cta")
    t.append(spark.range(3))
    t.append(spark.range(2))
    t.compact(spark, target_files=1)
    t.append(spark.range(4))
    assert t.read(spark).count() == 9
    assert t.num_rows() == 9


def test_snapshot_schema_evolution(spark, tmp_path):
    """Iceberg add-column semantics: an append with a NEW nullable
    column reads correctly (pre-evolution rows surface NULL), and
    compaction rewrites every row under the evolved schema."""
    from jsi_spark.io.tableio import SnapshotTable

    t = SnapshotTable(str(tmp_path), "ev")
    t.append(spark.range(3).selectExpr("id"))
    t.append(spark.range(2).selectExpr("id + 10 AS id", "'x' AS new_col"))
    df = t.read(spark)
    assert set(df.columns) == {"id", "new_col"}
    assert df.count() == 5
    assert df.filter("new_col IS NULL").count() == 3
    assert df.filter("new_col = 'x'").count() == 2

    t.compact(spark, target_files=1)
    df2 = t.read(spark)
    assert set(df2.columns) == {"id", "new_col"}
    assert df2.filter("new_col IS NULL").count() == 3
    assert t.num_rows() == 5


def test_semantic_dedup_stage_drops_planted_twins(spark, tmp_path):
    """semantic_dedup_stage in the ops pipeline: planted near-identical
    embedding twins are dropped (lowest id kept); the stage only sees
    survivors of upstream stages (semi-join), and drops are reflected
    in the committed corpus."""
    import random

    from jsi_spark.ops.pipeline import (
        OpsPipeline, dedup_exact_stage, semantic_dedup_stage)

    rng = random.Random(31)
    texts = [(i, f"s{i % 3}", " ".join(
        rng.choice("alpha beta gamma delta".split())
        for _ in range(12))) for i in range(40)]
    docs = spark.createDataFrame(
        texts, "doc_id long, source string, text string")
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    vecs = [(i, base[i]) for i in range(40)]
    # twins: doc 20+i duplicates doc i's embedding (cos ~ 1)
    for i in range(5):
        vecs[20 + i] = (20 + i, [x * 1.0001 for x in base[i]])
    emb = spark.createDataFrame(vecs,
                                "doc_id long, embedding array<double>")

    result = (OpsPipeline(n_buckets=4)
              .add_stage("dedup", dedup_exact_stage())
              .add_stage("semdedup",
                         semantic_dedup_stage(emb, threshold=0.99)))\
        .run(spark, docs, str(tmp_path / "sem"))
    from jsi_spark.io.tableio import SnapshotTable
    root, table = result["stages"]["semdedup"].rsplit("/", 1)
    ids = {r.doc_id for r in
           SnapshotTable(root, table).read(spark).collect()}
    assert not ids & {20 + i for i in range(5)}, "twins dropped"
    assert {i for i in range(5)} <= ids, "originals kept"


def _exact_metrics(df):
    return df.select("part", "column", "n_rows", "null_count", "min_val",
                     "max_val")


@pytest.mark.parametrize("table", ["verdicts", "metrics"])
def test_resume_after_crash_at_driver_table_write(spark, docs, media,
                                                  tmp_path, table):
    """A crash at a pyarrow-written table's append (verdicts, metrics)
    resumes to the tables of a clean run, also when the resume chunks
    the parts differently: the tables that committed a part before the
    crash do not commit it again (the driver-side rows of a chunk are
    cut to the parts each table still lacks)."""
    import os
    from unittest import mock

    from jsi_spark.io.tableio import SnapshotTable

    out = str(tmp_path / f"out_{table}")
    orig_append = SnapshotTable.append

    def flaky(self, data, meta=None):
        if os.path.basename(self.dir) == table:
            raise RuntimeError(f"crash at {table} write")
        return orig_append(self, data, meta)

    with mock.patch.object(SnapshotTable, "append", flaky):
        with pytest.raises(RuntimeError, match=f"at {table} write"):
            ValidationPipeline(n_buckets=8).run(spark, docs, media, out,
                                                parts_per_job=3)

    result = ValidationPipeline(n_buckets=8).run(spark, docs, media, out,
                                                 parts_per_job=4)
    assert result["completed_parts"] == list(range(8))
    t = _read_all(spark, result)
    tc = _read_all(spark, ValidationPipeline(n_buckets=8).run(
        spark, docs, media, str(tmp_path / f"clean_{table}")))
    for name, cut in (("violations", lambda d: d), ("verdicts", lambda d: d),
                      ("metrics", _exact_metrics)):
        a, b = cut(t[name]), cut(tc[name])
        assert a.count() == b.count(), name
        assert a.exceptAll(b).count() == 0, f"{name}: extra rows"
    assert sorted(r.part for r in t["lineage"].collect()) == list(range(8))


def test_drift_baseline_write_is_atomic(spark, docs, media, tmp_path):
    """A crash mid-dump of drift_baseline.json leaves no baseline (or
    the old one), never a torn file, and the next run succeeds."""
    import json
    import os
    from unittest import mock

    from jsi_spark.io import tableio

    out = str(tmp_path / "out_baseline")
    baseline = os.path.join(out, "drift_baseline.json")
    orig_dump = json.dump

    def torn(obj, f, **kw):
        if isinstance(obj, dict) and "edges" in obj:
            f.write('{"edges": [0.5, ')
            raise OSError("disk full mid-dump")
        return orig_dump(obj, f, **kw)

    with mock.patch.object(tableio.json, "dump", torn):
        with pytest.raises(OSError, match="mid-dump"):
            ValidationPipeline(n_buckets=8).run(spark, docs, media, out)
    assert not os.path.exists(baseline)
    assert not [f for f in os.listdir(out) if ".tmp." in f]

    result = ValidationPipeline(n_buckets=8).run(spark, docs, media, out)
    with open(baseline) as f:
        written = json.load(f)
    drift = _read_all(spark, result)["metrics"].filter(
        F.col("part") == -1).collect()
    assert len(drift) == 1
    assert drift[0].psi == pytest.approx(0.0, abs=1e-9)

    # an existing file survives a torn rewrite untouched
    with mock.patch.object(tableio.json, "dump", torn):
        with pytest.raises(OSError, match="mid-dump"):
            tableio.atomic_write_json(baseline, {"edges": [], "shares": []})
    with open(baseline) as f:
        assert json.load(f) == written


def test_mixed_writer_batches_read_back_with_spark_types(spark, docs,
                                                         tmp_path):
    """One table holding a Spark-written batch and a pyarrow-written
    batch of the same DDL (a resumed output dir written before the
    driver-sized tables moved to pyarrow) reads back through
    SnapshotTable.read with the Spark DDL types."""
    from jsi_spark.exec.verdicts import partition_verdicts
    from jsi_spark.io.tableio import SnapshotTable, arrow_table
    from jsi_spark.pipeline import DRIVER_DDL

    pipe = ValidationPipeline(n_buckets=4)
    checked = pipe.checked(docs)
    rows = pipe.part_stats(checked)
    want = {
        "verdicts": {"part": "int", "docs": "bigint", "passed": "bigint",
                     "failed": "bigint", "pass": "boolean"},
        "metrics": {"part": "int", "column": "string", "n_rows": "bigint",
                    "null_count": "bigint", "distinct_hll": "bigint",
                    "min_val": "string", "max_val": "string",
                    "kll_quantiles": "array<double>", "psi": "double"},
    }
    spark_written = {"verdicts": partition_verdicts(checked),
                     "metrics": pipe.metrics(checked)}
    for name, types in want.items():
        t = SnapshotTable(str(tmp_path), name)
        t.append(spark_written[name])
        t.append(arrow_table(rows[name], DRIVER_DDL[name]))
        df = t.read(spark)
        assert dict(df.dtypes) == types, name
        assert df.count() == 2 * len(rows[name])
    # the driver-side aggregate holds the rows the Spark plans produce
    assert sorted(rows["verdicts"]) == sorted(
        tuple(r) for r in spark_written["verdicts"].collect())
    exact = [0, 1, 2, 3, 5, 6]   # part, column, n_rows, null_count, min, max
    assert sorted(tuple(r[i] for i in exact) for r in rows["metrics"]) == \
        sorted(tuple(r) for r in
               _exact_metrics(spark_written["metrics"]).collect())
