"""jsi_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch_full_pass --seed 1 \
        --seconds 10 --trace 0

Runs from the root of a source checkout (it imports ``jsi_spark`` from
there). Human-readable lines go to stdout first; the last line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)   # the program, from the same checkout

from metrics import (OpLedger, latency_growth, least_stolen,  # noqa: E402
                     quantile, tail_percentile)
from tracing import Tracer, layer_table, union_length  # noqa: E402

#: timed ops the end-to-end metrics are taken over. The JIT keeps
#: warming the driver for many ops, so op walls fall op after op; a
#: fixed count makes every run take its median over the same stretch of
#: that curve instead of over as many ops as the host allowed.
MIN_OPS = {"batch_full_pass": 4, "append_stream": 4}
#: An op during which the hypervisor gave more than QUIET_STEAL of the
#: host's CPU time to other guests is not quiet: on a shared host such
#: bursts last tens of seconds and slow every op in them by 20-50 %.
#: Until MIN_OPS quiet ops ran, the loop adds ops while --seconds have
#: not passed, and the metrics come from the MIN_OPS ops with the least
#: steal.
QUIET_STEAL = 0.02
#: a trace run alternates untraced and traced ops, this many each
MIN_TRACE_OPS = {"batch_full_pass": 2, "append_stream": 3}

END_TO_END = {            # name -> unit
    "setup_s": "s", "docs_per_s": "docs/s",
    "latency_p50_s": "s", "out_bytes_per_doc": "B/doc",
}
#: also printed, not in the result line: a run holds 4 to 6 ops, so p90
#: is close to their maximum and has no sample beyond it to stand on
PRINTED = {**END_TO_END, "latency_p90_s": "s"}

PER_LAYER = {             # name -> unit
    "session.start_s": "s", "datagen.corpus_s": "s",
    "compile.compile_schema_s": "s", "compile.schema_nodes": "count",
    "exec.columnar.build_s": "s", "exec.columnar.valid_expr_nodes": "count",
    "spark.plan_s": "s/op",
    "exec.columnar.valid_s": "s", "exec.columnar.violations_s": "s",
    "exec.verdicts.s": "s", "exec.uniqueness.s": "s",
    "exec.uniqueness.dup_rows": "count", "exec.referential.s": "s",
    "exec.referential.dangling_rows": "count", "exec.stats.s": "s",
    "exec.drift.s": "s",
    "pipeline.run_s": "s/op",
    **{f"pipeline.stage.{s}_s": "s/op" for s in (
        "violations", "verdicts", "metrics", "corpus", "drift", "lineage")},
    "pipeline.driver_s": "s/op",
    "io.tableio.stage_batch_s": "s/op", "io.tableio.commit_s": "s/op",
    "io.tableio.manifest_reads": "count/op",
    "io.tableio.files_written": "count/op",
    "io.tableio.bytes_written": "B/op", "io.checkpoint.commit_s": "s/op",
    "incremental.run_once_s": "s/op", "incremental.pending_s": "s/op",
    "incremental.stages_s": "s/op", "incremental.id_index_s": "s/op",
    "incremental.id_index_batches": "count",
    "incremental.latency_growth": "ratio",
    "functions.udfs.valid_s": "s/op", "functions.udfs.violations_s": "s/op",
    "functions.udfs.viol_rows": "count/op",
    "spark.jobs": "count/op", "spark.tasks": "count/op",
    "spark.failed_tasks": "count/op",
    "peak_rss_mb": "MB",
}

WRITES = ("io.tableio.stage_batch", "io.tableio.commit", "io.tableio.append")
STAGE_TABLES = ("violations", "metrics", "verdicts", "lineage")


class Ctx:
    def __init__(self, spark, seed, work, tracer, ledger, nproc):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer, self.ledger, self.nproc = tracer, ledger, nproc

    @staticmethod
    def log(msg):
        print(msg, flush=True)


# -- process / environment ----------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    from jsi_spark.session import ensure_py_files, get_spark

    t0 = time.perf_counter()
    spark = get_spark("jsi-spark-perfbench")
    ensure_py_files(spark)
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def environment(spark, args, sizes) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark_sql_confs": {k: v for k, v in sorted(conf.items())
                            if k.startswith("spark.sql.")},
        "host": platform.node(),
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "sizes": sizes,
        "note": "figures from different hosts are not comparable",
    }


def peak_rss_mb(spark) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for all
    of them."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = [proc.pid] + _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:
        pass
    proc.stdin.close()          # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in procs[1:]:
        while os.path.exists(f"/proc/{pid}"):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


# -- measurement --------------------------------------------------------------


def job_stats(tracker, before: set) -> tuple[int, int, int]:
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    tasks = failed = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            st = tracker.getStageInfo(s)
            if st:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
    return len(jobs), tasks, failed


def measure(ctx, wl, ledger, seconds, min_ops, alternate) -> list[dict]:
    """Closed loop: the next op starts when the previous one returns.
    It runs ``min_ops`` ops, then more while fewer than ``min_ops`` of
    them were quiet and ``seconds`` have not passed. With ``alternate``
    every second op is traced, so traced and untraced ops see the same
    JVM warm-up and host state, and every op counts as quiet."""
    tracker = ctx.spark.sparkContext.statusTracker()
    ops = []
    t_end = time.perf_counter() + seconds
    i = quiet = 0
    while wl.has_next() and (i < min_ops or (
            quiet < min_ops and time.perf_counter() < t_end)):
        traced = alternate and i % 2 == 1
        ctx.tracer.enabled = traced
        op_id = f"{'traced' if traced else 'op'}{i}"
        before = set(tracker.getJobIdsForGroup(None))
        ok = True
        steal0, total0 = cpu_ticks()
        with ctx.tracer.op(op_id):
            try:
                passes = wl.op(op_id)
            except Exception:
                traceback.print_exc()
                ok = False
                passes = [(p, None) for p in wl.passes]
        steal1, total1 = cpu_ticks()
        ctx.tracer.enabled = False
        steal = (steal1 - steal0) / max(1, total1 - total0)
        if alternate or steal <= QUIET_STEAL:
            quiet += 1
        jobs, tasks, failed_tasks = job_stats(tracker, before)
        ok = ok and failed_tasks == 0
        for name, _ in passes:
            ledger.record(f"{op_id}.{name}", ok)
        if ok:
            ops.append({"op": op_id, "traced": traced,
                        "passes": dict(passes), "jobs": jobs,
                        "tasks": tasks, "failed_tasks": failed_tasks,
                        "steal": steal})
        i += 1
    return ops


def end_to_end(wl, ops, setup_s) -> dict:
    e = wl.end_to_end(ops)
    lat = e.pop("latencies")
    return {"setup_s": setup_s, **e,
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": quantile(lat, 0.9)}, lat


# -- per-layer figures from spans --------------------------------------------


def _ancestor(span, by_id, pred):
    p = by_id.get(span.parent)
    while p is not None:
        if pred(p):
            return p
        p = by_id.get(p.parent)
    return None


def layer_metrics(tracer, wl, ops, all_ops, setup_parts, session_s,
                  probes) -> dict:
    op_ids = [o["op"] for o in ops]
    n = max(len(ops), 1)
    spans = tracer.op_spans(op_ids)
    by_id = {s.id: s for s in tracer.spans}

    def per_op(name):
        return sum(s.duration for s in spans if s.name == name) / n

    def top_writes(root_name):
        """Write spans under a ``root_name`` span that no other write
        span encloses: (root span, write span) pairs."""
        out = []
        for s in spans:
            if s.name in WRITES and not _ancestor(
                    s, by_id, lambda p: p.name in WRITES):
                root = _ancestor(s, by_id, lambda p: p.name == root_name)
                if root is not None:
                    out.append((root, s))
        return out

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_s
    m["datagen.corpus_s"] = setup_parts.get("datagen", 0.0)

    reps = [f"setup-{r}" for r in range(3)]
    for metric, name in (("compile.compile_schema_s", "compile.compile_schema"),
                         ("exec.columnar.build_s", "exec.columnar.build")):
        per_rep = [sum(s.duration for s in tracer.op_spans([r])
                       if s.name == name) for r in reps]
        m[metric] = statistics.median(per_rep)
    m["compile.schema_nodes"] = statistics.median(
        [tracer.op_count([r], "compile.schema_nodes") for r in reps])

    m["spark.plan_s"] = per_op("spark.plan")
    m["pipeline.run_s"] = per_op("pipeline.run")
    stage_iv: dict[int, list] = {}
    for root, w in top_writes("pipeline.run"):
        stage = w.attrs.get("stage") or w.attrs.get("table")
        key = f"pipeline.stage.{stage}_s"
        if key in m:
            m[key] += w.duration / n
            stage_iv.setdefault(root.id, []).append((w.start, w.end))
    for s in spans:
        if s.name == "pipeline.drift_metrics":
            root = _ancestor(s, by_id, lambda p: p.name == "pipeline.run")
            if root is not None:
                m["pipeline.stage.drift_s"] += s.duration / n
                stage_iv.setdefault(root.id, []).append((s.start, s.end))
    m["pipeline.driver_s"] = sum(
        r.duration - union_length(stage_iv.get(r.id, []))
        for r in spans if r.name == "pipeline.run") / n

    m["io.tableio.stage_batch_s"] = per_op("io.tableio.stage_batch")
    m["io.tableio.commit_s"] = per_op("io.tableio.commit")
    for c in ("io.tableio.manifest_reads", "io.tableio.files_written",
              "io.tableio.bytes_written", "functions.udfs.viol_rows"):
        m[c] = tracer.op_count(op_ids, c) / n
    m["io.checkpoint.commit_s"] = per_op("io.checkpoint.commit")

    m["incremental.run_once_s"] = per_op("incremental.run_once")
    m["incremental.pending_s"] = per_op("incremental.pending")
    stages: dict[int, list] = {}
    for root, w in top_writes("incremental.run_once"):
        table = w.attrs.get("table")
        if table in STAGE_TABLES:
            stages.setdefault(root.id, []).append((w.start, w.end))
        elif table == "id_index":
            m["incremental.id_index_s"] += w.duration / n
    m["incremental.stages_s"] = sum(
        union_length(iv) for iv in stages.values()) / n
    m["incremental.id_index_s"] += per_op("incremental.cross_snapshot_dups")
    if wl.name == "append_stream":
        # over every append in order (traced and untraced alternate)
        m["incremental.latency_growth"] = latency_growth(
            [o["passes"]["append"] for o in all_ops]) or 1.0

    m["functions.udfs.valid_s"] = per_op("functions.udfs.valid")
    m["functions.udfs.violations_s"] = per_op("functions.udfs.violations")
    for k in ("jobs", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = sum(o[k] for o in ops) / n
    m.update(probes)
    return m


def print_layers(tracer, ops) -> None:
    spans = tracer.op_spans([o["op"] for o in ops])
    print("# per-layer busy / self time over the traced ops "
          f"({len(ops)} ops). Spark runs lazily: a stage's job time lands "
          "on the table-write span that consumes its plan, not on the "
          "builder call; 'wall' is the union of a layer's intervals "
          "(below 'busy' where calls overlap).")
    print(f"# {'layer':40s} {'calls':>6s} {'busy_s':>9s} {'wall_s':>9s} "
          f"{'self_s':>9s}")
    for r in layer_table(spans):
        print(f"# {r['layer']:40s} {r['calls']:6d} {r['busy_s']:9.3f} "
              f"{r['wall_s']:9.3f} {r['self_s']:9.3f}")


# -- main ---------------------------------------------------------------------


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    try:
        import jsi_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the "
              "root of a jsi_spark source checkout", file=sys.stderr)
        return 2

    args = parse_args(argv)
    n = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark's scratch files and temp archives inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the JVM's temp files too; no hsperfdata file under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    import tempfile
    tempfile.tempdir = None

    tracer = Tracer()
    if args.trace:
        import tracing
        tracing.install(tracer)
        tracer.enabled = True
    spark, session_s = start_session()
    try:
        return run(args, spark, session_s, work, tracer, n)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        print(f"# teardown took {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def run(args, spark, session_s, work, tracer, n) -> int:
    from workloads import WORKLOADS

    ledger = OpLedger()
    ctx = Ctx(spark, args.seed, work, tracer, ledger, n)
    wl = WORKLOADS[args.workload](ctx)
    with tracer.propagate_to_threads():
        wl.setup()
        setup_s = session_s + wl.setup_s()
        print("# env " + json.dumps(environment(spark, args, wl.sizes)))
        print("# setup parts (s): " + json.dumps(
            {"session": round(session_s, 3),
             **{k: round(v, 3) for k, v in wl.setup_parts.items()}}))
        print("# set-up walls (s): " + json.dumps(
            {k: [round(v, 3) for v in vs]
             for k, vs in wl.setup_walls.items()}))
        tracer.enabled = False
        min_ops = (2 * MIN_TRACE_OPS[wl.name] if args.trace
                   else MIN_OPS[wl.name])
        steal0, total0 = cpu_ticks()
        all_ops = measure(ctx, wl, ledger, args.seconds, min_ops,
                          alternate=bool(args.trace))
        steal1, total1 = cpu_ticks()
        # time the hypervisor gave to other guests: high values mean the
        # figures of this run are slowed by neighbours, not the program
        print(f"# cpu steal while measuring: "
              f"{100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")
        traced_ops = [o for o in all_ops if o["traced"]]
        ops = [o for o in all_ops if not o["traced"]]
        if not args.trace:
            ops = least_stolen(ops, min_ops)
        rss = peak_rss_mb(spark)
        print(f"# peak RSS, driver Python + JVM: {rss:.1f} MB")
        t_check = time.perf_counter()
        bad = wl.check(all_ops) if all_ops else []
        print(f"# output checks took {time.perf_counter() - t_check:.1f} s")
        for op_id in bad:
            ledger.fail(op_id)

        e2e, lat = end_to_end(wl, ops, setup_s) if ops else ({}, [])
        print("# op walls (s), in order: " + " ".join(
            f"{o['op']}={sum(o['passes'].values()):.3f}" for o in all_ops))
        print("# op cpu steal (%), in order: " + " ".join(
            f"{o['op']}={100 * o['steal']:.1f}" for o in all_ops)
            + "; metrics over: " + " ".join(o["op"] for o in ops))
        pct, tail, n_lat = tail_percentile(lat)
        print(f"# {wl.name}: {len(ops)} untraced ops; latency samples "
              f"n={n_lat}, samples beyond p90: "
              f"{sum(1 for x in lat if x > e2e.get('latency_p90_s', 0))}; "
              f"highest percentile with >=10 samples beyond: "
              f"{'none' if pct is None else f'p{pct:g} = {tail:.4f} s'}")
        for k, unit in PRINTED.items():
            if k in e2e:
                print(f"# {k:20s} {e2e[k]:14.4f} {unit}")

        if args.trace:
            try:
                probes = wl.probes() if traced_ops else {}
            except Exception:
                traceback.print_exc()
                ledger.record("probes", False)
                probes = {}
            layers = layer_metrics(tracer, wl, traced_ops, all_ops,
                                   wl.setup_parts, session_s, probes)
            layers["peak_rss_mb"] = rss
            print_layers(tracer, traced_ops)
            for k, unit in PER_LAYER.items():
                print(f"# layer {k:36s} {layers[k]:14.4f} {unit}")
            if traced_ops and ops:
                t_e2e, _ = end_to_end(wl, traced_ops, setup_s)
                for k in ("docs_per_s", "latency_p50_s", "latency_p90_s"):
                    print(f"# tracing overhead {k:16s} traced "
                          f"{t_e2e[k]:.4f} - untraced {e2e[k]:.4f} = "
                          f"{t_e2e[k] - e2e[k]:+.4f} {PRINTED[k]}")
            spans_path = os.path.join(
                ROOT, ".perfbench_work", "traces",
                f"{wl.name}-seed{args.seed}-{os.getpid()}.jsonl")
            tracer.dump(spans_path)
            print(f"# spans written to {os.path.relpath(spans_path, ROOT)}")
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items() if k in e2e}
    print(f"# error_rate {ledger.error_rate:.4f} "
          f"({ledger.failed} failed / {ledger.attempted} attempted ops)")
    correct = bool(all_ops) and ledger.failed == 0
    print(json.dumps({"correct": correct, "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
