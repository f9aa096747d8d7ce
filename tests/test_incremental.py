"""Incremental (delta) validation: only new snapshots are scanned,
cross-snapshot uniqueness via the id index, drift vs the first
snapshot's baseline, idempotent resume per (table, snapshot)."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from jsi_spark.datagen import gen_docs, gen_media_dim
from jsi_spark.incremental import CROSS_DUP_KEY, IncrementalValidator
from jsi_spark.io.tableio import SnapshotTable
from jsi_spark.pipeline import ValidationPipeline

N_DOCS, N_MEDIA = 1200, 120


@pytest.fixture(scope="module")
def halves(spark):
    """Deterministic split of one corpus into two appends. The split is
    by xxhash parity of the row index (NOT doc_id: datagen plants
    duplicate doc_ids, which must be able to land on both sides)."""
    docs = gen_docs(spark, N_DOCS, n_media=N_MEDIA, seed=7)
    docs = docs.withColumn(
        "__h", F.pmod(F.xxhash64(F.monotonically_increasing_id(),
                                 F.lit("split")), F.lit(2)))
    a = docs.filter("__h = 0").drop("__h").cache()
    b = docs.filter("__h = 1").drop("__h").cache()
    a.count(), b.count()
    return a, b


@pytest.fixture(scope="module")
def media(spark):
    return gen_media_dim(spark, N_MEDIA, seed=7).cache()


def _corpus(tmp_path, *snapshots):
    t = SnapshotTable(str(tmp_path), "corpus")
    for df in snapshots:
        t.append(df)
    return t


def test_first_snapshot_equals_batch_run(spark, halves, media, tmp_path):
    a, _ = halves
    corpus = _corpus(tmp_path, a)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    res = inc.run_once(spark, media)
    assert len(res["consumed"]) == 1

    batch = ValidationPipeline(n_buckets=8)
    bres = batch.run(spark, a, media, str(tmp_path / "batch_out"))
    broot = bres["tables"]["verdicts"].rsplit("/", 1)
    bverd = {r.part: (r.docs, r.passed, r.failed)
             for r in SnapshotTable(broot[0], broot[1])
             .read(spark).collect()}
    iverd = {r.part: (r.docs, r.passed, r.failed)
             for r in inc.merged_verdicts(spark).collect()}
    assert iverd == bverd

    # first snapshot has nothing earlier to collide with
    v = inc.violations(spark)
    assert v.filter(F.col("message_key") == CROSS_DUP_KEY).count() == 0

    # both paths commit through one core: same violation multiset ...
    def batch_table(name):
        return SnapshotTable(*bres["tables"][name].rsplit("/", 1)).read(spark)

    def multiset(df, cols):
        return Counter(tuple(tuple(x) if isinstance(x, list) else x
                             for x in r)
                       for r in df.select(*cols).collect())

    vcols = ("doc_id", "keyword", "ptr", "span_index", "message_key",
             "part")
    assert multiset(v, vcols) == multiset(batch_table("violations"), vcols)
    # ... and the same per-part metrics rows
    imet = inc.tables["metrics"].read(spark).filter("part >= 0")
    bmet = batch_table("metrics").filter("part >= 0")
    mcols = sorted(imet.columns)
    assert sorted(bmet.columns) == mcols
    assert imet.count() == 8 * 3
    assert multiset(imet, mcols) == multiset(bmet, mcols)


def test_delta_scans_only_new_batches(spark, halves, media, tmp_path):
    a, b = halves
    corpus = _corpus(tmp_path, a)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    inc.run_once(spark, media)

    corpus.append(b)
    pend = inc.pending()
    assert len(pend) == 1
    # the pending snapshot's batches are exactly the second append's
    first = corpus.manifest()["snapshots"][0]["batches"]
    assert not (set(pend[0]["batches"]) & set(first))
    res = inc.run_once(spark, media)
    assert len(res["consumed"]) == 1

    # merged verdicts equal a batch run over the union corpus
    batch = ValidationPipeline(n_buckets=8)
    bres = batch.run(spark, a.unionByName(b), media,
                     str(tmp_path / "batch_out"))
    broot = bres["tables"]["verdicts"].rsplit("/", 1)
    bverd = {r.part: (r.docs, r.passed, r.failed)
             for r in SnapshotTable(broot[0], broot[1])
             .read(spark).collect()}
    iverd = {r.part: (r.docs, r.passed, r.failed)
             for r in inc.merged_verdicts(spark).collect()}
    assert iverd == bverd


def test_cross_snapshot_duplicates_flagged(spark, halves, media, tmp_path):
    a, b = halves
    corpus = _corpus(tmp_path, a, b)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    inc.run_once(spark, media)

    expected = (b.select("doc_id")
                .join(a.select("doc_id").distinct(), "doc_id", "left_semi")
                .count())
    assert expected > 0, "datagen should plant ids on both sides"
    got = inc.violations(spark).filter(
        F.col("message_key") == CROSS_DUP_KEY)
    assert got.count() == expected
    # and every flagged id really is in the first snapshot
    bad = (got.select("doc_id").distinct()
           .join(a.select("doc_id").distinct(), "doc_id", "left_anti")
           .count())
    assert bad == 0


def test_resume_is_idempotent(spark, halves, media, tmp_path):
    a, b = halves
    corpus = _corpus(tmp_path, a)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    inc.run_once(spark, media)

    # simulate a crash mid-snapshot: second append processed up to
    # verdicts, but ids never indexed -> snapshot NOT consumed
    corpus.append(b)
    snap = inc.pending()[0]
    sid = snap["snapshot_id"]
    inc.tables["violations"].append(
        inc.pipeline.local_violations(
            inc.pipeline.checked(inc._snapshot_df(spark, snap)))
        .limit(0), {"source_snapshot": sid})
    assert sid not in inc.consumed()

    inc.run_once(spark, media)  # resume
    assert sid in inc.consumed()
    # violations table has exactly ONE committed batch-set for sid per
    # run plus the simulated partial -> but verdicts/metrics/id_index
    # committed exactly once
    for table in ("verdicts", "metrics", "id_index"):
        srcs = [s["meta"].get("source_snapshot")
                for s in inc.tables[table].manifest()["snapshots"]]
        assert srcs.count(sid) == 1, table
    # re-running with nothing pending is a no-op
    res = inc.run_once(spark, media)
    assert res["consumed"] == []


def test_drift_baseline_from_first_snapshot(spark, halves, media, tmp_path):
    a, b = halves
    corpus = _corpus(tmp_path, a)
    out = str(tmp_path / "out")
    inc = IncrementalValidator(corpus, out, n_buckets=8)
    inc.run_once(spark, media)
    assert os.path.exists(os.path.join(out, "drift_baseline.json"))

    corpus.append(b)
    inc.run_once(spark, media)
    m = inc.tables["metrics"].read(spark)
    psis = [r.psi for r in m.filter("column = 'n_spans_psi'").collect()]
    assert len(psis) == 2
    # the baseline snapshot scores exactly 0 against itself; row order
    # across parquet batches is not defined, so assert by value
    assert 0.0 in psis
    # the two halves share a distribution: drift must be small
    assert all(p < 0.1 for p in psis)


def test_per_snapshot_violation_audit(spark, halves, media, tmp_path):
    a, b = halves
    corpus = _corpus(tmp_path, a, b)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    inc.run_once(spark, media)
    sids = [s["snapshot_id"] for s in corpus.manifest()["snapshots"]]
    per = [inc.violations(spark, source_snapshot=s) for s in sids]
    total = inc.violations(spark).count()
    assert sum(p.count() for p in per) == total
    # cross-snapshot dups only appear in the SECOND snapshot's audit
    assert per[0].filter(F.col("message_key") == CROSS_DUP_KEY).count() == 0


def test_compaction_snapshot_is_not_revalidated(spark, halves, media,
                                                tmp_path):
    """Compacting the corpus rewrites already-validated rows; the
    incremental validator must skip the REPLACE snapshot (re-validating
    it would double every verdict count)."""
    a, b = halves
    corpus = _corpus(tmp_path, a, b)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    inc.run_once(spark, media)
    before = {r.part: r.docs for r in inc.merged_verdicts(spark).collect()}

    corpus.compact(spark, target_files=2)
    assert inc.pending() == []
    res = inc.run_once(spark, media)
    assert res["consumed"] == []
    after = {r.part: r.docs for r in inc.merged_verdicts(spark).collect()}
    assert after == before
    # a genuinely new append after compaction IS pending
    corpus.append(a.limit(50))
    assert len(inc.pending()) == 1


def test_evolved_delta_still_validates(spark, halves, media, tmp_path):
    """A delta append that gained a new column (schema evolution) must
    validate unchanged: the compiled validator binds only the schema's
    fields, and the extra column never enters the outputs."""
    a, b = halves
    corpus = _corpus(tmp_path, a)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    inc.run_once(spark, media)

    corpus.append(b.withColumn("pipeline_tag", F.lit("v2")))
    inc.run_once(spark, media)
    mv = inc.merged_verdicts(spark)
    assert sum(r.docs for r in mv.collect()) == a.count() + b.count()
    assert "pipeline_tag" not in inc.violations(spark).columns


def _table_rows(inc, spark, name, cols=None):
    df = inc.tables[name].read(spark)
    return Counter(tuple(tuple(x) if isinstance(x, list) else x for x in r)
                   for r in (df.select(*cols) if cols else df).collect())


def _assert_equal_outputs(spark, got, clean,
                          lineage_cols=("run_id", "part", "snapshot_id")):
    """Row multisets equal per table (metrics on their exact columns,
    lineage without timestamps)."""
    exact = ("part", "column", "n_rows", "null_count", "min_val", "max_val",
             "psi")
    for name, cols in (("violations", None), ("verdicts", None),
                       ("metrics", exact), ("id_index", None),
                       ("lineage", lineage_cols)):
        assert (_table_rows(got, spark, name, cols)
                == _table_rows(clean, spark, name, cols)), name


@pytest.mark.parametrize("table", ["verdicts", "metrics"])
def test_resume_after_crash_at_driver_table_write(spark, halves, media,
                                                  tmp_path, table):
    """A crash at the pyarrow verdicts or metrics write leaves the
    snapshot unconsumed; the retry commits the missing tables once and
    the outputs equal a clean run's."""
    from unittest import mock

    a, _ = halves
    orig_append = SnapshotTable.append

    def flaky(self, data, meta=None):
        if os.path.basename(self.dir) == table:
            raise RuntimeError(f"crash at {table} write")
        return orig_append(self, data, meta)

    corpus = _corpus(tmp_path, a)
    inc = IncrementalValidator(corpus, str(tmp_path / "out"), n_buckets=8)
    with mock.patch.object(SnapshotTable, "append", flaky):
        with pytest.raises(RuntimeError, match=f"at {table} write"):
            inc.run_once(spark, media)
    assert inc.consumed() == set()
    assert len(inc.run_once(spark, media)["consumed"]) == 1

    clean = IncrementalValidator(corpus, str(tmp_path / "clean"),
                                 n_buckets=8)
    clean.run_once(spark, media)
    _assert_equal_outputs(spark, inc, clean)


def test_resume_after_crash_between_id_index_stage_and_commit(
        spark, halves, media, tmp_path):
    """The id-index batch is staged concurrently with the data tables
    and only its manifest commit runs last. A crash between the two
    leaves the snapshot unconsumed and an orphan staged batch; the
    retry indexes every id once, the orphan never enters the manifest,
    and vacuum() removes it."""
    from unittest import mock

    a, b = halves
    corpus = _corpus(tmp_path, a)
    out = str(tmp_path / "out")
    inc = IncrementalValidator(corpus, out, n_buckets=8)
    inc.run_once(spark, media)
    corpus.append(b)
    orig_commit = SnapshotTable.commit

    def flaky(self, batches, meta=None):
        if os.path.basename(self.dir) == "id_index":
            raise RuntimeError("crash before id-index commit")
        return orig_commit(self, batches, meta)

    with mock.patch.object(SnapshotTable, "commit", flaky):
        with pytest.raises(RuntimeError, match="before id-index commit"):
            inc.run_once(spark, media)
    index = inc.tables["id_index"]
    orphans = [e for e in os.listdir(index.dir) if e.startswith("batch-")
               and e not in index.committed_batches()]
    assert len(orphans) == 1
    assert len(inc.pending()) == 1

    assert len(inc.run_once(spark, media)["consumed"]) == 1
    assert not set(orphans) & set(index.committed_batches())
    n_docs = a.count() + b.count()
    assert index.read(spark).count() == n_docs, "ids indexed twice"
    assert index.vacuum() == orphans
    assert index.read(spark).count() == n_docs

    clean = IncrementalValidator(_corpus(tmp_path / "c", a, b),
                                 str(tmp_path / "clean"), n_buckets=8)
    clean.run_once(spark, media)
    # the source snapshot ids differ between the two corpora, so the
    # lineage compare is on its parts
    _assert_equal_outputs(spark, inc, clean, lineage_cols=("part",))
