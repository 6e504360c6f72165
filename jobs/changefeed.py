"""spark-submit change-feed export: emit a CDC table's row-level diff.

One-shot range export::

    spark-submit --py-files dist/engine.zip jobs/changefeed.py \
        --table-dir /mnt/lake/cdc --from-version 12 [--to-version 19] \
        --out s3a://bucket/feeds/lake_changes

Cursor-driven incremental export (each run ships exactly the commits
since the last run; crash before the cursor write redelivers the same
window bit-identically)::

    spark-submit ... jobs/changefeed.py \
        --table-dir /mnt/lake/cdc --cursor /mnt/lake/feeds/cursor.json \
        --out s3a://bucket/feeds/lake_changes

``--table-dir`` and ``--cursor`` must be local or POSIX-mounted paths:
the lake layer and the cursor file are read and written through ``os``.
Only ``--out`` is written by Spark and may be a Hadoop URI.

Output parquet is partitioned by the feed window's end version so each
export lands in its own directory and re-exports overwrite idempotently.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--out", required=True, help="parquet output root")
    ap.add_argument("--from-version", type=int, default=None)
    ap.add_argument("--to-version", type=int, default=None)
    ap.add_argument("--cursor", default=None,
                    help="cursor file for incremental export (mutually "
                         "exclusive with --from-version)")
    args = ap.parse_args()
    if (args.cursor is None) == (args.from_version is None):
        ap.error("pass exactly one of --from-version or --cursor")

    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.session import get_spark

    spark = get_spark(app_name="cdc-changefeed")
    engine = CdcEngine(spark, args.table_dir)
    if not engine.table.exists():
        raise SystemExit(f"no table at {args.table_dir}")

    def export(df, v_from, v_to):
        (
            df.write.mode("overwrite")
            .parquet(os.path.join(args.out, f"v{v_from:010d}-v{v_to:010d}"))
        )
        print(f"exported changes v{v_from} -> v{v_to}")

    if args.cursor is not None:
        from file_standardization_etl_spark.streaming.changefeed import (
            ChangeFeedFollower,
        )

        follower = ChangeFeedFollower(engine.table, args.cursor)
        n = follower.step(export)
        print(f"windows exported: {n}")
    else:
        v_to = args.to_version
        if v_to is None:
            v_to = engine.table.current_version()
        export(engine.changes(args.from_version, v_to), args.from_version, v_to)


if __name__ == "__main__":
    main()
