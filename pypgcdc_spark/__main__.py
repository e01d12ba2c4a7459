"""CLI runner — capability twin of the reference's ``python -m pypgcdc``
(``__main__.py:30-52``): env-var/flag config, builds the stream, runs until
drained (or forever with --follow), materializing current-state tables.

    python -m pypgcdc_spark --log /path/changes.log --out /path/state \\
        [--checkpoint /path/ckpt] [--max-tx-per-batch N] [--show-envelope]

Env fallbacks mirror the reference: PYPGCDC_LOG, PYPGCDC_OUT,
PYPGCDC_CHECKPOINT, PYPGCDC_LSN (resume offset is checkpoint-managed here —
the LSN env of the reference maps to Spark's checkpointLocation).
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="pypgcdc_spark")
    ap.add_argument("--log", default=os.environ.get("PYPGCDC_LOG"), help="replay log path")
    ap.add_argument("--out", default=os.environ.get("PYPGCDC_OUT"), help="state output dir")
    ap.add_argument(
        "--checkpoint",
        default=os.environ.get("PYPGCDC_CHECKPOINT"),
        help="streaming checkpoint dir (default: <out>/_checkpoint)",
    )
    ap.add_argument("--max-tx-per-batch", type=int, default=0)
    ap.add_argument(
        "--n-buckets",
        default=None,
        help="bucketed state: an int, or 'auto' to derive from state volume",
    )
    ap.add_argument(
        "--target-bucket-bytes",
        type=int,
        default=0,
        help="auto mode: mean bucket size that triggers a rebucket "
        "(default: merger's 128 MiB)",
    )
    ap.add_argument("--cpus", type=int, default=0)
    ap.add_argument("--show-envelope", action="store_true", help="print the envelope and exit")
    ap.add_argument(
        "--emit-messages",
        action="store_true",
        help="surface pg_logical_emit_message frames as op='M' rows (outbox)",
    )
    args = ap.parse_args(argv)

    if not args.log:
        ap.error("--log (or PYPGCDC_LOG) is required")

    from pypgcdc_spark.api import PgCdcEngine
    from pypgcdc_spark.session import get_spark
    from pypgcdc_spark.sources.pgcdc import scan_log

    spark = get_spark("pypgcdc-cli", cpus=args.cpus or None)
    engine = PgCdcEngine(spark)

    if args.show_envelope:
        engine.snapshot(args.log, emit_messages=args.emit_messages).orderBy(
            "lsn"
        ).show(100, truncate=False)
        return 0

    if not args.out:
        ap.error("--out (or PYPGCDC_OUT) is required unless --show-envelope")
    ckpt_root = args.checkpoint or os.path.join(args.out, "_checkpoint")

    registry, _ = scan_log(args.log)
    tables = registry.tables()
    if not tables:
        print("no Relation messages in log; nothing to materialize", file=sys.stderr)
        return 1

    for schema in tables:
        target = os.path.join(args.out, schema.table)
        print(f"materializing {schema.qualified_name} -> {target}")
        nb = args.n_buckets
        engine.materialize(
            engine.stream(args.log, max_tx_per_batch=args.max_tx_per_batch),
            schema,
            target,
            checkpoint=os.path.join(ckpt_root, schema.table),
            n_buckets=(nb if nb in (None, "auto") else int(nb)),
            target_bucket_bytes=args.target_bucket_bytes or None,
        )
        try:
            n = spark.read.parquet(target).count()
        except Exception:
            # Bucketed state with zero live rows keeps no parquet files
            # (emptied partitions are deleted so dead keys can't
            # resurrect) — that IS the empty table.
            n = 0
        print(f"  {schema.qualified_name}: {n} current rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
