"""The workloads: set-up, one timed op, output checks and (traced
runs only) isolated layer probes. Every call into the program goes
through its public entry points; see README.md for why each workload
exists and what it predicts."""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from jsi_spark import datagen
from jsi_spark.compile import compiler
from jsi_spark.exec import referential, stats, uniqueness, verdicts
from jsi_spark.functions import udfs
from jsi_spark.incremental import CROSS_DUP_KEY, IncrementalValidator
from jsi_spark.io.tableio import SnapshotTable
from jsi_spark.pipeline import ValidationPipeline
from jsi_spark.plans.docs_schema import DOCS_JSON_SCHEMA, DOCS_SCHEMA
from tracing import dir_usage

N_MEDIA = 1000
SETUP_REPS = 3            # validator set-ups per run; setup_s takes the median
SAMPLE_DOCS = 2000        # batch docs re-validated by the driver-side engine

UNIQ_KEY = "validation.keyword.uniqueItems.not_unique"
REF_KEY = "validation.keyword.$ref.invalid"


def manifest_paths(table_dir: str, source_snapshot: str | None = None):
    """Committed batch dirs of an output table, read straight from its
    manifest file (the checks do not go through the table layer)."""
    with open(os.path.join(table_dir, "manifest.json")) as f:
        snaps = json.load(f)["snapshots"]
    return [os.path.join(table_dir, b) for s in snaps
            if source_snapshot is None
            or s.get("meta", {}).get("source_snapshot") == source_snapshot
            for b in s["batches"]]


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def valid_expr_nodes(spark, vp: ValidationPipeline) -> int:
    """Catalyst expression nodes of the resolved ``valid_column()``
    (one line per node in the expression's tree string)."""
    df = spark.createDataFrame([], DOCS_SCHEMA).select(
        vp.validator.valid_column().alias("valid"))
    expr = df._jdf.queryExecution().analyzed().expressions().head()
    return len(expr.treeString().splitlines())


class Workload:
    name = ""
    passes: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.work = ctx.work
        self.setup_parts: dict[str, float] = {}
        #: walls of the validator set-ups and of the warm-up ops, printed
        self.setup_walls: dict[str, list[float]] = {}
        self.sizes: dict = {}
        self.vp: ValidationPipeline | None = None

    # set-up helpers ----------------------------------------------------------

    def _timed(self, part: str, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.setup_parts[part] = self.setup_parts.get(part, 0.0) + dt
        self.setup_walls.setdefault(part, []).append(dt)
        return out

    def _media(self):
        media = datagen.gen_media_dim(self.spark, N_MEDIA, seed=self.seed)
        path = os.path.join(self.work, "media_dim")
        media.write.parquet(path)
        return self.spark.read.parquet(path)

    def _validator_reps(self) -> ValidationPipeline:
        """Schema compile + typed validator build, SETUP_REPS times; the
        median counts toward setup_s."""
        walls = []
        for r in range(SETUP_REPS):
            with self.ctx.tracer.op(f"setup-{r}"):
                t0 = time.perf_counter()
                vp = ValidationPipeline(
                    compiler.compile_schema(DOCS_JSON_SCHEMA))
                vp.validator.valid_column()
                vp.validator.violations_column()
                walls.append(time.perf_counter() - t0)
        self.setup_walls["validator"] = walls
        self.setup_parts["validator_median"] = statistics.median(walls)
        return vp

    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    # interface ---------------------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def has_next(self) -> bool:
        return True

    def op(self, op_id: str) -> list[tuple[str, float]]:
        """Run one op; return its passes as (name, seconds)."""
        raise NotImplementedError

    def end_to_end(self, ops: list[dict]) -> dict:
        raise NotImplementedError

    def check(self, ops: list[dict]) -> list[str]:
        """Output checks; returns the ledger ids of ops that failed one."""
        raise NotImplementedError

    def probes(self) -> dict:
        """Traced runs only: per-layer figures measured in isolation."""
        return {}

    def _exec_probes(self, docs, media) -> dict:
        """Each exec layer forced alone (noop sink / count) over
        ``docs``: the busy time its share of a run costs."""
        vp = self.vp
        checked = vp.checked(docs)
        out = {
            "exec.columnar.valid_s": noop(
                docs.select(vp.validator.valid_column().alias("valid"))),
            "exec.columnar.violations_s": noop(vp.local_violations(checked)),
            "exec.verdicts.s": noop(verdicts.partition_verdicts(checked)),
            "exec.stats.s": noop(vp.metrics(checked)),
        }
        t0 = time.perf_counter()
        out["exec.uniqueness.dup_rows"] = uniqueness.uniqueness_violations(
            checked, "doc_id", vp.salt_buckets).count()
        out["exec.uniqueness.s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        out["exec.referential.dangling_rows"] = (
            referential.referential_violations(docs, media,
                                               vp.broadcast_dim).count())
        out["exec.referential.s"] = time.perf_counter() - t0
        drift_dir = os.path.join(self.work, "probe_drift")
        os.makedirs(drift_dir, exist_ok=True)
        t0 = time.perf_counter()
        vp.drift_metrics(checked, drift_dir).collect()
        out["exec.drift.s"] = time.perf_counter() - t0
        return out


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class BatchFullPass(Workload):
    """One ``ValidationPipeline().run`` per op into a fresh directory.
    Set-up makes two untimed warm-up runs: op walls keep falling for many
    ops after a cold start (JIT of the driver's planning code), steeply
    at first."""

    name = "batch_full_pass"
    passes = ("run",)
    DOCS = 20_000
    GENERIC_DOCS = 4_000
    #: the first warm-up run goes over this many docs: it is the cold
    #: start, the steepest step of the curve, and costs the same driver
    #: work whatever the row count. The second goes over the corpus.
    WARMUP_DOCS = 2_000

    def __init__(self, ctx):
        super().__init__(ctx)
        self.out_dirs: dict[str, str] = {}

    def setup(self):
        spark = self.spark
        path = os.path.join(self.work, "docs")
        warm_path = os.path.join(self.work, "docs_warmup")

        def corpus():
            for n, dest in ((self.DOCS, path), (self.WARMUP_DOCS, warm_path)):
                datagen.gen_docs(spark, n, n_media=N_MEDIA,
                                 seed=self.seed).write.parquet(dest)
            return self._media()

        self.media = self._timed("datagen", corpus)
        self.docs = spark.read.parquet(path)
        self.vp = self._validator_reps()
        for w, docs in enumerate((spark.read.parquet(warm_path), self.docs)):
            with self.ctx.tracer.op("warmup"):
                self._timed("warmup", lambda: self.vp.run(
                    spark, docs, self.media,
                    os.path.join(self.work, f"out-warmup{w}")))
        self.sizes = {"docs": self.DOCS, "warmup_docs": self.WARMUP_DOCS,
                      "n_media": N_MEDIA}

    def op(self, op_id):
        out = os.path.join(self.work, f"out-{op_id}")
        t0 = time.perf_counter()
        self.vp.run(self.spark, self.docs, self.media, out)
        dt = time.perf_counter() - t0
        self.out_dirs[op_id] = out
        return [("run", dt)]

    def end_to_end(self, ops):
        walls = [o["passes"]["run"] for o in ops]
        p50 = _median(walls)
        return {
            "docs_per_s": self.DOCS / p50,
            "latencies": walls,
            "out_bytes_per_doc": _median(
                [dir_usage(self.out_dirs[o["op"]])[1] / self.DOCS
                 for o in ops]),
        }

    def check(self, ops):
        import pyarrow.parquet as pq

        bad = []
        for o in ops:
            rows = [r for b in manifest_paths(
                os.path.join(self.out_dirs[o["op"]], "verdicts"))
                for r in pq.read_table(
                    b, columns=["docs", "passed", "failed"]).to_pylist()]
            if (sum(r["docs"] for r in rows) != self.DOCS
                    or any(r["passed"] + r["failed"] != r["docs"]
                           for r in rows)):
                self.ctx.log(f"check: verdict sums wrong in {o['op']}")
                bad.append(f"{o['op']}.run")
        last = ops[-1]["op"]
        if not self._deep_check(self.out_dirs[last]):
            bad.append(f"{last}.run")
        return bad

    def _deep_check(self, out_dir) -> bool:
        spark, docs = self.spark, self.docs
        viol = spark.read.parquet(
            *manifest_paths(os.path.join(out_dir, "violations")))
        ok = True
        counts = docs.groupBy("doc_id").count()
        want = (counts.filter("count > 1")
                .agg(F.sum("count")).head()[0] or 0)
        got = viol.filter(F.col("message_key") == UNIQ_KEY).count()
        if got != want:
            self.ctx.log(f"check: uniqueness rows {got} != {want}")
            ok = False
        want = (docs.select("doc_id", F.posexplode("spans"))
                .select("doc_id", F.col("col.media_ref").alias("media_ref"))
                .filter(F.col("media_ref").isNotNull())
                .join(self.media.select("media_ref"), "media_ref",
                      "left_anti").count())
        got = viol.filter(F.col("message_key") == REF_KEY).count()
        if got != want:
            self.ctx.log(f"check: referential rows {got} != {want}")
            ok = False
        return self._oracle_sample(docs, counts, viol) and ok

    def _oracle_sample(self, docs, counts, viol) -> bool:
        """Per-doc valid flag and (keyword, ptr) rows of ~SAMPLE_DOCS
        docs with a unique doc_id against the driver-side Python engine
        (``CompiledSchema.validate``)."""
        every = max(1, self.DOCS // SAMPLE_DOCS)
        uniq_ids = counts.filter("count = 1").select("doc_id")
        sample = (docs.join(uniq_ids, "doc_id", "left_semi")
                  .filter(F.pmod(F.xxhash64("doc_id", F.lit(self.seed)),
                                 F.lit(every)) == 0))
        rows = sample.select(
            "doc_id", F.to_json(F.struct("doc_id", "spans")).alias("j")
        ).collect()
        typed: dict = {}
        for r in (viol.filter(~F.col("message_key").isin(UNIQ_KEY, REF_KEY))
                  .join(sample.select("doc_id"), "doc_id", "left_semi")
                  .select("doc_id", "keyword", "ptr").collect()):
            typed.setdefault(r.doc_id, set()).add((r.keyword, r.ptr))
        engine = compiler.compile_schema(DOCS_JSON_SCHEMA)
        bad = 0
        for r in rows:
            res = engine.validate(json.loads(r.j), collect=True)
            got = typed.get(r.doc_id, set())
            errs = {(e.keyword, e.instance_ptr) for e in res.all_errors()}
            if res.valid != (not got) or not got <= errs:
                bad += 1
        self.sample_size = len(rows)
        if bad or len(rows) < SAMPLE_DOCS // 2:
            self.ctx.log(f"check: oracle sample {bad}/{len(rows)} docs "
                         "disagree")
            return False
        return True

    def probes(self):
        out = self._exec_probes(self.docs, self.media)
        out["exec.columnar.valid_expr_nodes"] = valid_expr_nodes(
            self.spark, self.vp)
        out.update(self._udf_probes())
        return out

    def _udf_probes(self) -> dict:
        """The generic path (``functions.udfs``): the first GENERIC_DOCS
        corpus rows serialised with ``row_as_json``, through
        ``valid_json_udf`` (Result::Valid) and ``violations_json_udf``
        (Result::Full) after one untimed pass that starts the Python
        workers. Both passes are ledger ops: the generic valid flags
        must equal the typed flags of the same rows, and Full-mode rows
        must exist exactly for the invalid rows."""
        import pyarrow.parquet as pq

        spark, ledger = self.spark, self.ctx.ledger
        path = os.path.join(self.work, "docs_json")
        # datagen values depend only on row index and seed, so these are
        # the corpus' first GENERIC_DOCS rows
        (datagen.gen_docs(spark, self.GENERIC_DOCS, n_media=N_MEDIA,
                          seed=self.seed)
         .withColumn("row", F.monotonically_increasing_id())
         .withColumn("j", udfs.row_as_json("doc_id", "spans"))
         .write.parquet(path))
        docs = spark.read.parquet(path)
        compiled = compiler.compile_schema(DOCS_JSON_SCHEMA)
        valid = docs.select("row", udfs.valid_json_udf(compiled)("j")
                            .alias("valid"))
        viols = (docs.select("row", F.explode(
            udfs.violations_json_udf(compiled)("j")).alias("v"))
            .select("row", "v.*"))
        noop(valid)
        v_out = os.path.join(self.work, "udf_valid")
        f_out = os.path.join(self.work, "udf_violations")
        out = {}
        for key, df, dest in (("functions.udfs.valid_s", valid, v_out),
                              ("functions.udfs.violations_s", viols, f_out)):
            t0 = time.perf_counter()
            df.write.parquet(dest)
            out[key] = time.perf_counter() - t0
        out["functions.udfs.viol_rows"] = sum(
            pq.ParquetFile(os.path.join(f_out, f)).metadata.num_rows
            for f in os.listdir(f_out) if f.endswith(".parquet"))

        typed = self.vp.checked(docs.select("row", "doc_id", "spans")) \
            .select("row", F.col("valid").alias("typed"))
        disagree = (spark.read.parquet(v_out).join(typed, "row", "full_outer")
                    .filter(~F.col("valid").eqNullSafe(F.col("typed")))
                    .count())
        with_rows = spark.read.parquet(f_out).select("row").distinct()
        invalid = typed.filter(~F.col("typed")).select("row")
        full_ok = not (with_rows.exceptAll(invalid).count()
                       or invalid.exceptAll(with_rows).count())
        if disagree or not full_ok:
            self.ctx.log(f"check: generic path: {disagree} valid flags "
                         f"disagree; full-mode rows match: {full_ok}")
        ledger.record("probe.udfs.valid", not disagree)
        ledger.record("probe.udfs.violations", full_ok)
        return out


class AppendStream(Workload):
    """Closed loop, one producer, one append in flight: commit one staged
    delta (manifest-only), then ``IncrementalValidator.run_once``."""

    name = "append_stream"
    passes = ("append",)
    HISTORY_DOCS = 5_000    # >= DELTA_DOCS: planted ids reuse history rows
    DELTA_DOCS = 5_000
    #: untimed ops in set-up: consuming the history + 1 append. Op walls
    #: keep falling for many ops after a cold start (JIT of the driver's
    #: planning code), steeply at first, so timing starts only once the
    #: curve has flattened somewhat.
    WARMUP_OPS = 2
    DELTAS = 7          # 1 warm-up append + up to 6 timed
    PLANT_EVERY = 13
    SLOT = 10_000_000   # doc-id offset between snapshots (ids stay 9 digits)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.appended: list[tuple[str, str, int]] = []  # (op, sid, k)
        self.bytes_per_doc: dict[str, float] = {}

    def _delta(self, k: int):
        """Delta ``k``: datagen docs whose regular ids move to their own
        id slot, except ~1/PLANT_EVERY planted to the history's id for
        the same row (a cross-snapshot duplicate)."""
        docs = datagen.gen_docs(self.spark, self.DELTA_DOCS, n_media=N_MEDIA,
                                seed=self.seed * 1000 + k + 1)
        num = F.regexp_extract("doc_id", r"^doc-([0-9]{9})$", 1)
        n = num.cast("long")
        regular = (num != "") & (n >= 1000)
        planted = regular & (F.pmod(F.xxhash64("doc_id", F.lit(self.seed),
                                               F.lit(k)),
                                    F.lit(self.PLANT_EVERY)) == 0)
        return docs.withColumn(
            "doc_id",
            F.when(planted, F.col("doc_id"))
            .when(regular, F.format_string(
                "doc-%09d", n + (k + 1) * self.SLOT))
            .otherwise(F.col("doc_id")))

    def setup(self):
        spark = self.spark
        self.corpus = SnapshotTable(self.work, "corpus")

        def stage():
            media = self._media()
            hist = self.corpus.stage_batch(datagen.gen_docs(
                spark, self.HISTORY_DOCS, n_media=N_MEDIA, seed=self.seed))
            with ThreadPoolExecutor(max_workers=self.ctx.nproc) as pool:
                staged = list(pool.map(
                    lambda k: self.corpus.stage_batch(self._delta(k)),
                    range(self.DELTAS)))
            return media, hist, staged

        self.media, self.hist, self.staged = self._timed("datagen", stage)
        self.vp = self._validator_reps()
        self.out = os.path.join(self.work, "inc_out")

        def consume_history():
            self.inc = IncrementalValidator(self.corpus, self.out,
                                            pipeline=self.vp)
            self.corpus.commit([self.hist])
            self.inc.run_once(spark, self.media)

        with self.ctx.tracer.op("setup-history"):
            self._timed("history", consume_history)
        self.next_k = 0
        # consuming the history is the first warm-up op
        for w in range(self.WARMUP_OPS - 1):
            with self.ctx.tracer.op("warmup"):
                self._timed("warmup", lambda: self.op(f"warmup{w}"))
        self.appended.clear()
        self.sizes = {"history_docs": self.HISTORY_DOCS,
                      "delta_docs": self.DELTA_DOCS,
                      "deltas_staged": self.DELTAS,
                      "plant_every": self.PLANT_EVERY, "n_media": N_MEDIA}

    def has_next(self):
        return self.next_k < self.DELTAS

    def op(self, op_id):
        k = self.next_k
        self.next_k += 1
        before = dir_usage(self.out)[1]
        t0 = time.perf_counter()
        sid = self.corpus.commit([self.staged[k]])
        res = self.inc.run_once(self.spark, self.media)
        dt = time.perf_counter() - t0
        if res["consumed"] != [sid]:
            raise RuntimeError(f"run_once consumed {res['consumed']}, "
                               f"expected [{sid}]")
        self.appended.append((op_id, sid, k))
        self.bytes_per_doc[op_id] = ((dir_usage(self.out)[1] - before)
                                     / self.DELTA_DOCS)
        return [("append", dt)]

    def end_to_end(self, ops):
        lat = [o["passes"]["append"] for o in ops]
        p50 = _median(lat)
        return {
            "docs_per_s": self.DELTA_DOCS / p50,
            "latencies": lat,
            "out_bytes_per_doc": _median(
                [self.bytes_per_doc[o["op"]] for o in ops]),
        }

    def check(self, ops):
        """Each append's cross-snapshot violation doc_ids equal the ids of
        that delta already present in the history or an earlier delta,
        found by a plain join over the staged parquet."""
        spark = self.spark
        appended = self.appended
        ids = spark.read.parquet(os.path.join(self.corpus.dir, self.hist)) \
            .select("doc_id", F.lit(-1).alias("k"))
        for k in range(self.next_k):     # warm-up deltas too
            ids = ids.unionByName(spark.read.parquet(
                os.path.join(self.corpus.dir, self.staged[k]))
                .select("doc_id", F.lit(k).alias("k")))
        ids = ids.distinct()
        first = ids.groupBy("doc_id").agg(F.min("k").alias("first"))
        want: dict[int, set] = {}
        for r in (ids.join(first, "doc_id")
                  .filter(F.col("k") > F.col("first")).collect()):
            want.setdefault(r.k, set()).add(r.doc_id)
        viol_dir = os.path.join(self.out, "violations")
        got_df = None
        for _, sid, _ in appended:
            part = spark.read.parquet(*manifest_paths(viol_dir, sid)) \
                .select("doc_id", "message_key", F.lit(sid).alias("sid"))
            got_df = part if got_df is None else got_df.unionByName(part)
        got: dict[str, set] = {}
        for r in (got_df.filter(F.col("message_key") == CROSS_DUP_KEY)
                  .select("sid", "doc_id").collect()):
            got.setdefault(r.sid, set()).add(r.doc_id)
        bad = []
        floor = self.DELTA_DOCS // (2 * self.PLANT_EVERY)
        for op, sid, k in appended:
            exp = want.get(k, set())
            if got.get(sid, set()) != exp or len(exp) < floor:
                self.ctx.log(f"check: append {op} cross-snapshot dups "
                             f"{len(got.get(sid, set()))} != {len(exp)}")
                bad.append(f"{op}.append")
        return bad

    def id_index_batches(self) -> int:
        return len(manifest_paths(os.path.join(self.out, "id_index")))

    def probes(self):
        _, _, k = self.appended[-1]
        delta = self.spark.read.parquet(
            os.path.join(self.corpus.dir, self.staged[k]))
        out = self._exec_probes(delta, self.media)
        out["exec.columnar.valid_expr_nodes"] = valid_expr_nodes(
            self.spark, self.vp)
        out["incremental.id_index_batches"] = self.id_index_batches()
        return out


WORKLOADS = {w.name: w for w in (BatchFullPass, AppendStream)}
