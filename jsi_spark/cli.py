"""spark-submit entry point (north_rule: "run via spark-submit
--py-files on a multi-executor cluster").

    spark-submit --py-files jsi_spark.zip -m jsi_spark.cli \
        validate --schema schema.json --docs s3://corpus/docs \
        --media-dim s3://corpus/media --out s3://corpus/_validation

Subcommands:
  validate          full validation pass (keyword checks + corpus
                    constraints), resumable: re-running with the same
                    --out skips committed partition buckets
                    (checkpoint manifest).
  validate-appends  incremental pass: consume only corpus snapshots
                    appended since the last run with the same --out
                    (O(delta); cross-snapshot uniqueness via the
                    id-index table). Idempotent — run it from cron.
  stats             per-column stats table only.
"""

from __future__ import annotations

import argparse
import json
import sys

from jsi_spark.session import ensure_py_files, get_spark


def _add_common(p):
    p.add_argument("--docs", required=True,
                   help="input parquet/iceberg path (docs table)")
    p.add_argument("--out", required=True, help="output directory")


def main(argv=None):
    ap = argparse.ArgumentParser(prog="jsi-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate")
    _add_common(v)
    v.add_argument("--schema", help="JSON Schema file "
                   "(default: built-in interleaved-docs schema)")
    v.add_argument("--media-dim", help="media dimension table path")
    v.add_argument("--n-buckets", type=int, default=32)
    v.add_argument("--salt-buckets", type=int, default=64)
    v.add_argument("--parts-per-job", type=int, default=None)
    v.add_argument("--no-broadcast-dim", action="store_true",
                   help="force the sort-merge referential path")

    va = sub.add_parser("validate-appends")
    va.add_argument("--corpus", required=True,
                    help="SnapshotTable root/name of the docs corpus "
                         "(root/name — e.g. /data/tables/docs)")
    va.add_argument("--out", required=True, help="output directory")
    va.add_argument("--schema", help="JSON Schema file "
                    "(default: built-in interleaved-docs schema)")
    va.add_argument("--media-dim", help="media dimension table path")
    va.add_argument("--n-buckets", type=int, default=32)
    va.add_argument("--salt-buckets", type=int, default=64)
    va.add_argument("--no-broadcast-dim", action="store_true")

    s = sub.add_parser("stats")
    _add_common(s)
    s.add_argument("--columns", nargs="*", default=None)

    args = ap.parse_args(argv)
    spark = get_spark("jsi-spark-cli")
    ensure_py_files(spark)

    if args.cmd == "validate":
        import jsi_spark.datagen as dg
        from jsi_spark.pipeline import ValidationPipeline
        schema = None
        if args.schema:
            with open(args.schema) as f:
                schema = json.load(f)
        docs = spark.read.parquet(args.docs)
        media = (spark.read.parquet(args.media_dim) if args.media_dim
                 else dg.gen_media_dim(spark, 1000))
        pipe = ValidationPipeline(
            schema, n_buckets=args.n_buckets,
            salt_buckets=args.salt_buckets,
            broadcast_dim=not args.no_broadcast_dim)
        result = pipe.run(spark, docs, media, args.out,
                          parts_per_job=args.parts_per_job)
        print(json.dumps(result))
    elif args.cmd == "validate-appends":
        import os

        import jsi_spark.datagen as dg
        from jsi_spark.incremental import IncrementalValidator
        from jsi_spark.io.tableio import SnapshotTable
        schema = None
        if args.schema:
            with open(args.schema) as f:
                schema = json.load(f)
        root, name = os.path.split(args.corpus.rstrip("/"))
        corpus = SnapshotTable(root, name)
        media = (spark.read.parquet(args.media_dim) if args.media_dim
                 else dg.gen_media_dim(spark, 1000))
        inc = IncrementalValidator(
            corpus, args.out, schema, n_buckets=args.n_buckets,
            salt_buckets=args.salt_buckets,
            broadcast_dim=not args.no_broadcast_dim)
        print(json.dumps(inc.run_once(spark, media)))
    elif args.cmd == "stats":
        from jsi_spark.exec.stats import column_stats
        df = spark.read.parquet(args.docs)
        column_stats(df, args.columns or None).write.mode(
            "overwrite").parquet(args.out)
        print(json.dumps({"out": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
