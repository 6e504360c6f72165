"""spark-submit entrypoint for the CDC engine.

Cluster usage (the north-rule deployment shape)::

    python tools/package.py                      # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip \
        jobs/run_cdc.py --log-dir /mnt/lake/wal --table-dir /mnt/lake/cdc \
        [--continuous] [--processing-time "10 seconds"] [--maintain-vocab] \
        [--bootstrap-snapshot s3a://bucket/snap --bootstrap-lsn 123456789]

``--log-dir`` and ``--table-dir`` must be local or POSIX-mounted paths:
the lake commit, the WAL listing and the stream checkpoint go through
``os`` (``os.path.abspath`` mangles ``s3a://``). Only the Spark-read
``--bootstrap-snapshot`` may be a Hadoop URI.

Local smoke::

    python jobs/run_cdc.py --log-dir /tmp/wal --table-dir /tmp/lake --synthesize 100000

Each micro-batch runs one fixed path: a Catalyst expression routes rows
to the merge or to quarantine, and a single Arrow UDF assigns the
quarantine reason to the invalid slice only (``functions/validation.py``).
``--salt-threshold`` is the one dedup knob: chunks at or above it use the
two-phase salted last-writer-wins (``cdc/dedup.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--log-dir", required=True, help="WAL change-log directory")
    ap.add_argument("--table-dir", required=True, help="engine root (target table + quarantine + manifest)")
    ap.add_argument("--continuous", action="store_true", help="tail forever (default: drain once)")
    ap.add_argument("--processing-time", default="10 seconds")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument(
        "--salt-threshold", type=int, default=500_000_000,
        help="rows/chunk above which the two-phase salted LWW engages "
        "(max_by already pre-reduces hot keys map-side; lower only for "
        "adversarial distributions)",
    )
    ap.add_argument("--synthesize", type=int, default=0, help="generate N synthetic events into --log-dir first")
    ap.add_argument(
        "--bootstrap-snapshot", default=None,
        help="parquet dir of a consistent source snapshot "
        "(doc_id, tokens, n_tok, source[, lsn]) to seed a FRESH table "
        "from before tailing; requires --bootstrap-lsn",
    )
    ap.add_argument(
        "--bootstrap-lsn", type=int, default=0,
        help="the LSN the snapshot is consistent at; tailing resumes above it",
    )
    ap.add_argument(
        "--maintain-vocab", action="store_true",
        help="maintain the incremental token-vocabulary aggregate alongside the merge",
    )
    args = ap.parse_args()
    if args.bootstrap_snapshot and args.bootstrap_lsn < 1:
        ap.error("--bootstrap-snapshot requires --bootstrap-lsn >= 1")

    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.events import spark_generate_events
    from file_standardization_etl_spark.session import get_spark
    from file_standardization_etl_spark.streaming.runner import StreamingCdcRunner

    spark = get_spark(app_name="cdc-ingest")
    if args.synthesize:
        spark_generate_events(spark, args.synthesize).write.mode("append").parquet(args.log_dir)

    engine = CdcEngine(
        spark,
        args.table_dir,
        n_buckets=args.n_buckets,
        salt_threshold=args.salt_threshold,
        maintain_vocab=args.maintain_vocab,
    )
    engine.init()
    if args.bootstrap_snapshot:
        # snapshot-then-stream cold start: idempotent — on a table that
        # already applied anything, bootstrap raises and we just tail
        # (covers the restart-after-successful-bootstrap case)
        if engine.applied_lsn() == 0 and int(
            engine.table.properties().get("last_batch_id", -1)
        ) == -1:
            m = engine.bootstrap(
                spark.read.parquet(args.bootstrap_snapshot),
                as_of_lsn=args.bootstrap_lsn,
            )
            print(json.dumps({"bootstrap": m.to_json()}))
    runner = StreamingCdcRunner(spark, args.log_dir, engine)
    if args.continuous:
        q = runner.start_continuous(processing_time=args.processing_time)
        q.awaitTermination()
    else:
        runner.run_available_now()
        # this run's totals from its batches' manifests: no table scan
        totals = dict.fromkeys(("rows_in", "rows_quarantined", "rows_upserts", "rows_deletes"), 0)
        for b in runner.batches_seen:
            with open(os.path.join(engine.manifest_dir, f"batch-{b:010d}.json")) as f:
                m = json.load(f)
            for k in totals:
                totals[k] += m[k]
        print(
            json.dumps(
                {
                    "applied_lsn": engine.applied_lsn(),
                    **totals,
                    "batches": runner.batches_seen,
                    "table_version": engine.table.current_version(),
                }
            )
        )


if __name__ == "__main__":
    main()
