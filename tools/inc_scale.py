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

Usage: python tools/inc_scale.py [--history 100000,1000000]
                                 [--delta 100000] [--passes 3]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--history", default="100000,1000000")
    ap.add_argument("--delta", type=int, default=100000)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    sizes = [int(s) for s in args.history.split(",")]

    spark = get_spark("inc-scale")
    media = gen_media_dim(spark, 1000)
    pipe = ValidationPipeline(n_buckets=32, salt_buckets=64)
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
