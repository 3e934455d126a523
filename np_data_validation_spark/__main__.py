"""Cluster entrypoint — the engine's ``spark-submit --py-files`` surface.

The reference runs as a single-process script looping over sessions
(/root/reference/data_validation.py:1449-1464); this engine's unit of
deployment is one spark-submit of this file against a cluster:

    zip -r npdv.zip np_data_validation_spark
    spark-submit --master yarn --deploy-mode cluster \\
        --py-files npdv.zip \\
        np_data_validation_spark/__main__.py \\
        --master inherit \\
        --snapshot s3://lake/sequences --manifest s3://lake/manifest \\
        --out s3://lake/validation_out --content-aware

``--master inherit`` keeps whatever master/deploy-mode and shuffle
partition count spark-submit configured (the default builds a local[cpus]
session with 2x cpus shuffle partitions, so the same CLI works as a bare
``python -m np_data_validation_spark`` smoke run). The other engine
settings (AQE, Arrow batching) are applied by session.get_spark
identically in both modes; the package auto-ships itself to python
workers even without --py-files when run locally.

Batch mode is plans.engine.run_validation — checkpointed and resumable, so
re-submitting the SAME command after a kill validates only pending
partitions. A batch run leaves only results and state under --out: each
batch's scratch pair tables are deleted once its state commits. --stream
switches to streaming.incremental.validate_stream over a landing directory
(availableNow trigger: drain what's there, exit).
Prints ONE JSON summary line on completion.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="np_data_validation_spark")
    ap.add_argument("--snapshot", required=True,
                    help="sequences table path (landing dir with --stream)")
    ap.add_argument("--manifest", required=True, help="manifest table path")
    ap.add_argument("--out", required=True,
                    help="output/state directory; a run leaves results and "
                         "state there and deletes its <out>/_work scratch")
    ap.add_argument("--master", default=None,
                    help="'inherit' under spark-submit; e.g. local[8] for bare runs")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local-mode cores; also sets the shuffle partitions "
                         "(2x cores, at least 8). Ignored with --master inherit")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore checkpoints; re-validate every partition")
    ap.add_argument("--content-aware", action="store_true",
                    help="fingerprint the token payload for resume gating "
                         "(re-validates silently mutated partitions)")
    ap.add_argument("--commit-batch", type=int, default=None,
                    help="partitions per state commit (default: all in one job)")
    ap.add_argument("--stream", action="store_true",
                    help="treat --snapshot as a streaming landing directory")
    args = ap.parse_args(argv)

    if args.stream:
        # batch-only flags silently doing nothing under --stream is a trap:
        # a user combining them believes they took effect
        batch_only = {
            "--no-resume": args.no_resume,
            "--content-aware": args.content_aware,
            "--commit-batch": args.commit_batch is not None,
        }
        bad = [f for f, v in batch_only.items() if v]
        if bad:
            ap.error(f"{', '.join(bad)} only apply to batch mode, not --stream "
                     "(streaming manages its own checkpoints and scratch reclaim)")

    from np_data_validation_spark.session import get_spark

    spark = get_spark(app_name="npdv-validate", cpus=args.cpus, master=args.master)

    if args.stream:
        from np_data_validation_spark.streaming.incremental import validate_stream

        manifest = spark.read.parquet(args.manifest)
        q = validate_stream(spark, args.snapshot, manifest, args.out)
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "out": args.out}, sort_keys=True))
        return 0

    from np_data_validation_spark.plans.engine import run_validation

    res = run_validation(
        spark,
        args.snapshot,
        args.manifest,
        args.out,
        resume=not args.no_resume,
        commit_batch=args.commit_batch,
        content_aware=args.content_aware,
    )
    print(
        json.dumps(
            {
                "mode": "batch",
                "run_id": res.run_id,
                "validated": sorted(res.validated_partitions),
                "skipped": sorted(res.skipped_partitions),
                "rows": res.total_rows,
                "metrics": res.metrics,
            },
            sort_keys=True,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
