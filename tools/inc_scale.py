"""O(delta) census for incremental validation (jsi_spark.incremental).

The claim under test: validating an append costs O(delta), not
O(corpus) — history is never re-scanned; the only history-sized input
is the compact doc_id index the delta semi-joins. So the SAME delta
appended to a 10x larger history should validate in ~flat time (the
index read grows, but it is ids-only — no text — and the join stays
broadcast/SMJ on longs-and-short-strings).

Method: for each history size H, build a corpus SnapshotTable with a
history snapshot of H docs, consume it once, then append the SAME fixed
DELTA_DOCS-doc delta (disjoint id range) and time ONLY the delta's
run_once (min of PASSES cold-state repeats, each in a fresh out_dir
copied from the consumed-history state, warm JVM). Prints one JSON
line per H plus a markdown row for SCALE.md.

``--appends N`` measures history LENGTH instead of size: one process
consumes a DELTA_DOCS-doc history, then appends N deltas of DELTA_DOCS
docs to one output dir and prints one JSON line per append (run_once
wall, id-index batches the append read), then the least-squares slope
of the wall against the batch count, over all appends and over the
second half (the first appends also carry the JVM's warm-up curve).
Flat append latency means the slope stays near 0.

Usage: python tools/inc_scale.py [--history 100000,1000000]
                                 [--delta 100000] [--passes 3]
       python tools/inc_scale.py --appends 60 --delta 2000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from jsi_spark.datagen import gen_media_dim  # noqa: E402
from jsi_spark.incremental import IncrementalValidator  # noqa: E402
from jsi_spark.io.tableio import SnapshotTable  # noqa: E402
from jsi_spark.pipeline import ValidationPipeline  # noqa: E402
from jsi_spark.session import get_spark  # noqa: E402


def synth_docs(spark, start: int, n: int, dup_every: int = 0):
    """Docs-shaped frame with ids [start, start+n) — exact id control so
    history/delta id ranges are disjoint by construction, plus an
    optional planted cross-range duplicate every `dup_every` rows
    (pointing back into the history range)."""
    i = F.col("id")
    did = F.format_string("doc-%012d", i)
    if dup_every:
        did = F.when(i % dup_every == 0,
                     F.format_string("doc-%012d", i - start)).otherwise(did)
    spans = F.array(F.struct(
        F.lit("text").alias("kind"),
        F.concat(F.lit("tok"), (i % 997).cast("string")).alias("text"),
        F.when(i % 7 == 0, F.concat(F.lit("m"), (i % 40).cast("string")))
        .otherwise(F.lit(None).cast("string")).alias("media_ref"),
        (i % 13).cast("int").alias("offset")))
    return spark.range(start, start + n).select(
        did.alias("doc_id"), spans.alias("spans"))


def slope(xs, ys) -> float:
    """Least-squares slope of ys against xs."""
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var


def run_appends(spark, media, pipe, n_appends: int, delta: int) -> None:
    work = tempfile.mkdtemp(prefix="inc_appends_")
    corpus = SnapshotTable(work, "corpus")
    inc = IncrementalValidator(corpus, os.path.join(work, "out"),
                               pipeline=pipe)
    corpus.append(synth_docs(spark, 0, delta).coalesce(4))
    inc.run_once(spark, media)  # the history (untimed)
    index = inc.tables["id_index"]
    xs, ys = [], []
    for k in range(1, n_appends + 1):
        # disjoint id slot per append; 1-in-1000 rows collide back into
        # the history (real cross-snapshot work on every append)
        corpus.append(synth_docs(spark, k * 10_000_000_000, delta,
                                 dup_every=1000).coalesce(4))
        batches = len(index.committed_batches())
        t0 = time.time()
        inc.run_once(spark, media)
        dt = time.time() - t0
        xs.append(batches)
        ys.append(dt)
        print(json.dumps({"append": k, "run_once_s": round(dt, 3),
                          "id_index_batches": batches}), flush=True)
    half = n_appends // 2
    print(json.dumps({
        "appends": n_appends, "delta": delta,
        "slope_s_per_batch": round(slope(xs, ys), 5),
        "slope_second_half_s_per_batch": round(
            slope(xs[half:], ys[half:]), 5),
        "first_median_s": round(statistics.median(ys[:10]), 3),
        "last_median_s": round(statistics.median(ys[-10:]), 3)}),
        flush=True)
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--history", default="100000,1000000")
    ap.add_argument("--delta", type=int, default=100000)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--appends", type=int, default=0)
    args = ap.parse_args()
    if 0 < args.appends < 20:
        ap.error("--appends needs at least 20 appends for two slopes "
                 "and the first/last-10 medians")
    sizes = [int(s) for s in args.history.split(",")]

    spark = get_spark("inc-scale")
    media = gen_media_dim(spark, 1000)
    pipe = ValidationPipeline(n_buckets=32, salt_buckets=64)
    if args.appends:
        run_appends(spark, media, pipe, args.appends, args.delta)
        return
    rows = []
    for h in sizes:
        work = tempfile.mkdtemp(prefix=f"inc_scale_{h}_")
        corpus = SnapshotTable(work, "corpus")
        corpus.append(synth_docs(spark, 0, h).coalesce(
            max(1, h // 250_000) * 8))
        # consume the history once into a state dir (untimed)
        state0 = os.path.join(work, "state0")
        IncrementalValidator(corpus, state0, pipeline=pipe).run_once(
            spark, media)
        # delta ids start beyond every history range; 1-in-1000 rows
        # collide back into history (the cross-snapshot check must do
        # real work, not exit on an empty join)
        sid = corpus.append(synth_docs(spark, 10_000_000_000, args.delta,
                                       dup_every=1000).coalesce(8))
        best = None
        for _ in range(args.passes):
            # fresh output state per pass, copied from the consumed
            # history: the delta is validated from cold every time (no
            # output caches) and is the only pending snapshot
            out = os.path.join(work, f"out_{time.time_ns()}")
            shutil.copytree(state0, out)
            inc = IncrementalValidator(corpus, out, pipeline=pipe)
            t0 = time.time()
            inc.run_once(spark, media)  # the measured delta
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            ndup = (inc.violations(spark, source_snapshot=sid)
                    .filter(F.col("message_key").contains("cross_snapshot"))
                    .count())
        rows.append({"history": h, "delta": args.delta,
                     "delta_sec": round(best, 2), "cross_dups": ndup})
        print(json.dumps(rows[-1]), flush=True)
        shutil.rmtree(work, ignore_errors=True)
    if len(rows) >= 2:
        r0, r1 = rows[0], rows[-1]
        print(f"| {r0['history']:,} -> {r1['history']:,} history, "
              f"{args.delta:,}-doc delta | {r0['delta_sec']} s -> "
              f"{r1['delta_sec']} s | "
              f"{round(r1['delta_sec'] / r0['delta_sec'], 2)}x |")


if __name__ == "__main__":
    main()
