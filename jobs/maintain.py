"""spark-submit maintenance entrypoint for a long-running CDC table.

The write path never deletes or reorganizes (that is what keeps commits
atomic and micro-batches fast); this job is where the periodic
housekeeping runs, typically off-peak::

    spark-submit --py-files dist/engine.zip jobs/maintain.py \
        --table-dir /mnt/lake/cdc \
        [--compact] [--expire-tombstones] \
        [--rebucket N] [--expire-snapshots KEEP] [--compact-quarantine] \
        [--requeue-whitelist web,books,newsource]

``--table-dir`` (and ``--corrective-wal-dir``) must be local or
POSIX-mounted paths: the lake layer commits snapshots through ``os``.

Every op is independently safe: compaction/rebucket are single atomic
snapshot swaps, snapshot GC only deletes below the retention horizon,
and quarantine compaction is crash-idempotent (lsn anti-join).

Live-safety differs per op: --compact-quarantine may run against a live
ingester (chunk-granular, stage-then-rename on both sides);
--expire-snapshots should run with the ingester stopped — if it cannot
be, the --gc-grace window (default 600 s) is what protects an in-flight
uncommitted data dir from collection, so do not pass --gc-grace 0 while
a writer is up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dedup_correct(engine, n: int, wal_dir: str) -> dict:
    """ExactSubstr corrective pass over ``engine``'s live state: persist
    the corrective event segment under ``wal_dir``, then apply it through
    the exactly-once merge. Returns the pass's report."""
    from file_standardization_etl_spark.operators.tokenize import clear_gate_caches

    from_lsn = engine.applied_lsn() + 1
    seg = os.path.join(wal_dir, f"from_lsn_{from_lsn}")
    # Persist-then-apply, resumable: a COMMITTED segment (_SUCCESS) at the
    # current watermark means a previous pass either crashed between write
    # and apply, or applied an all-no-op segment (empty / all-quarantined —
    # the watermark didn't move). Re-applying THAT segment is the correct
    # action in both cases: its events were generated against the state a
    # half-applied pass may already have changed, and re-application is
    # LSN-idempotent. A segment dir without the marker is a write that
    # crashed midway (the v2 output committer leaves its finished tasks'
    # files readable); nothing of it was applied, so it is regenerated.
    # New corrections can only exist once new events moved the watermark,
    # which changes the path.
    resumed = os.path.exists(os.path.join(seg, "_SUCCESS"))
    if not resumed:
        engine.dedup_correct_events(n=n).write.mode("overwrite").parquet(seg)
    # idempotency is LSN-based; the batch id is informational (lineage,
    # quarantine paths) — continue the table's own numbering
    next_bid = int(engine.table.properties().get("last_batch_id", -1)) + 1
    m = engine.apply_batch(engine.spark.read.parquet(seg), batch_id=next_bid)
    # the detect/rewrite frames persisted for this pass are done with
    clear_gate_caches()
    return {
        "n": n,
        "segment": seg,
        "resumed_existing_segment": resumed,
        "rows_in": m.rows_in,
        "rows_upserts": m.rows_upserts,
        "rows_deletes": m.rows_deletes,
        # non-zero here means corrections were REJECTED (e.g. the engine's
        # whitelist is narrower than what previously admitted these
        # sources — rerun with --whitelist)
        "rows_quarantined": m.rows_quarantined,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--compact", action="store_true",
                    help="rewrite all buckets under the current schema version")
    ap.add_argument("--expire-tombstones", action="store_true",
                    help="with --compact: drop tombstones below the applied watermark")
    ap.add_argument("--rebucket", type=int, default=0,
                    help="migrate to this hash-bucket count (atomic layout swap)")
    ap.add_argument("--expire-snapshots", type=int, default=0,
                    help="keep only the N most recent snapshots; GC data dirs + orphans "
                         "(run with the ingester stopped, or rely on --gc-grace)")
    ap.add_argument("--gc-grace", type=float, default=600.0,
                    help="skip unreferenced data dirs younger than this many seconds "
                         "(in-flight-commit protection); 0 only with the ingester stopped")
    ap.add_argument("--compact-quarantine", action="store_true",
                    help="fold per-batch quarantine dirs into the consolidated archive")
    ap.add_argument("--requeue-whitelist", default=None,
                    help="comma-separated source whitelist: re-validate quarantined "
                         "events against it and LWW-merge the now-valid ones "
                         "(dead-letter replay; run with the ingester stopped)")
    ap.add_argument("--dedup-correct", type=int, default=0, metavar="N",
                    help="ExactSubstr corrective pass: mask every non-keeper "
                         "occurrence of a repeated N-token span across live docs and "
                         "re-ingest the rewritten rows (DELETE when fully masked) as "
                         "change events through the exactly-once merge. The corrective "
                         "segment is persisted first (durable WAL). Run with the "
                         "ingester stopped, or accept that a racing upstream update "
                         "loses LWW to the correction's higher LSN.")
    ap.add_argument("--corrective-wal-dir", default=None,
                    help="where --dedup-correct persists its event segment "
                         "(default: <table-dir>_corrective — a SIBLING of the table "
                         "dir, never inside it, so snapshot GC can't collect it)")
    ap.add_argument("--whitelist", default=None,
                    help="comma-separated source whitelist the ENGINE validates "
                         "against (default: the built-in SOURCE_WHITELIST). Pass the "
                         "widened list here if the table previously admitted extra "
                         "sources via --requeue-whitelist — otherwise --dedup-correct "
                         "events carrying those sources would re-quarantine")
    args = ap.parse_args()
    if args.expire_tombstones and not args.compact:
        ap.error("--expire-tombstones only acts during --compact; pass both")

    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.session import get_spark

    spark = get_spark(app_name="cdc-maintain")
    # vocab-aware when the table maintains the aggregate on disk —
    # requeue through a vocab-blind engine would silently desync it
    # (requeue_quarantine also guards against this)
    maintain_vocab = os.path.isdir(os.path.join(args.table_dir, "vocab", "_meta"))
    engine = CdcEngine(
        spark,
        args.table_dir,
        maintain_vocab=maintain_vocab,
        whitelist=(
            [s for s in args.whitelist.split(",") if s] if args.whitelist else None
        ),
    )
    if not engine.table.exists():
        raise SystemExit(f"no table at {args.table_dir}")
    # run the engine's crash recovery (staging sweep, archive swap,
    # vocab outbox) before any maintenance op reads those trees
    engine.init()

    report: dict = {"table": args.table_dir, "version_before": engine.table.current_version()}
    # requeue runs FIRST: --compact --expire-tombstones records a
    # tombstones_expired_below_lsn fence at applied+1, and every
    # quarantined event's lsn is <= applied — a requeue ordered after
    # that expiry would rescue 0 rows with no warning (the fence filter
    # refuses everything). Requeue-then-expire gives both ops their
    # intended effect in one invocation.
    if args.requeue_whitelist:
        report["requeue"] = engine.requeue_quarantine(
            [s for s in args.requeue_whitelist.split(",") if s]
        )
    if args.rebucket:
        engine.table.rebucket(args.rebucket)
        report["rebucketed_to"] = args.rebucket
    if args.compact:
        wm = engine.applied_lsn() + 1 if args.expire_tombstones else None
        # rename-proof: resolve the tombstone/LSN columns by stable field
        # id (a rename_column DDL moves the names, never the ids)
        from file_standardization_etl_spark.cdc.apply import FID_DELETED, FID_LSN

        names = {c.id: c.name for c in engine.table.schema().columns}
        engine.table.compact(
            expire_tombstones_below_lsn=wm,
            tombstone_column=names.get(FID_DELETED, "deleted"),
            lsn_column=names.get(FID_LSN, "last_lsn"),
            # record the expiry fence: requeue_quarantine refuses to
            # rescue events below it (their vetoing tombstones are gone)
            properties_update=(
                {"tombstones_expired_below_lsn": wm} if wm is not None else None
            ),
        )
        report["compacted"] = True
        report["tombstones_expired_below"] = wm
    if args.compact_quarantine:
        report["quarantine_rows_archived"] = engine.compact_quarantine()
    if args.dedup_correct:
        report["dedup_correct"] = dedup_correct(
            engine,
            args.dedup_correct,
            args.corrective_wal_dir or (args.table_dir.rstrip("/") + "_corrective"),
        )
    if args.expire_snapshots:
        report["gc"] = engine.table.expire_snapshots(
            keep_last=args.expire_snapshots, grace_seconds=args.gc_grace
        )
    report["version_after"] = engine.table.current_version()
    report["history_tail"] = engine.table.history()[-3:]
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
