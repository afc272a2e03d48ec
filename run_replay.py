#!/usr/bin/env python
"""Batch replay / backfill entrypoint (SURVEY.md §3.2 lifecycle 2):

    spark-submit --py-files engine.zip run_replay.py \
        --events-dir /data/events --table-dir /lake/repos \
        [--from-epoch 0] [--pipeline-id backfill]

Applies the bounded event log epoch-by-epoch through the SAME epoch body
as streaming (replay/streaming equivalence is a pytest property). Fenced:
re-running after a crash resumes after the last committed epoch; a full
re-run is a no-op.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--pipeline-id", default="replay")
    ap.add_argument("--from-epoch", type=int, default=None)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--files-per-bucket", type=int, default=2)
    ap.add_argument("--no-normalize", action="store_true",
                    help="replication shape: skip DATS enrichment (enables the fused task-writer sink)")
    ap.add_argument("--hot-bucket-salts", type=int, default=0,
                    help="C4 adaptive skew: salt buckets that exceeded 4x the median "
                         "input rows last epoch over this many slices (0 = flat)")
    ap.add_argument("--patch-ops", action="store_true",
                    help="accept op=P sparse updates (C9 partial-update fold)")
    ap.add_argument("--partition-metrics", action="store_true",
                    help="record per-partition compaction task metrics in lineage")
    ap.add_argument("--verify-digest", action="store_true",
                    help="print the sorted sha256 rollup of final state")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from foundry_es_spark.plans import CdcPipeline, PipelineConfig
    from foundry_es_spark.session import get_spark

    spark = get_spark(app_name=f"cdc-replay-{args.pipeline_id}")
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id=args.pipeline_id,
            table_dir=args.table_dir,
            n_buckets=args.n_buckets,
            files_per_bucket=args.files_per_bucket,
            normalize=not args.no_normalize,
            record_partition_metrics=args.partition_metrics,
            hot_bucket_salts=args.hot_bucket_salts,
            patch_ops=args.patch_ops,
        ),
    )
    results = pipe.replay_event_dir(args.events_dir, from_epoch=args.from_epoch)
    applied = [r for r in results if not r.get("skipped")]
    out = {
        "epochs_applied": len(applied),
        "epochs_skipped": len(results) - len(applied),
        "events": sum(r.get("n_events", 0) for r in applied),
        "final_rows": pipe.table.read().count(),
    }
    if args.verify_digest:
        # BASELINE.json verification query: per-row content sha256 rollup,
        # bit-identical to the pandas oracle's table_digest (deterministic
        # sort_array framing — the old orderBy+collect_list form was
        # cross-partition order-unstable and framed lines differently).
        from foundry_es_spark.oracle import spark_table_digest

        out["digest"] = spark_table_digest(pipe.table.read())
    print(json.dumps(out))


if __name__ == "__main__":
    main()
