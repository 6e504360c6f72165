"""Change-feed follower — incremental downstream consumption of a lake
table's snapshot log.

``LakeTable.changes(v_from, v_to)`` (lake/table.py) gives the row-level
diff between two snapshots; this module adds the *cursor*: a durable
"last version I consumed" marker so a downstream job (a second-hop CDC
pipeline, an index builder, a feature-store sync) can poll the table and
receive each commit's delta exactly once — the consumption pattern of an
Iceberg incremental read / Delta CDF stream, built on the same snapshot
metadata our format already keeps.

Design points:

- **Exactly-once by cursor ordering**: the cursor file is written AFTER
  the consumer callback returns. A crash between processing and the
  cursor write redelivers that window — the same at-least-once delivery
  + idempotent-consumer contract the ingest side uses, and the feed's
  windows are deterministic (version-range diffs), so a redelivered
  window is bit-identical.
- **O(drift) polls**: each poll costs one manifest diff; when nothing
  committed, no Spark job runs at all (the version pointer is a single
  file read).
- **Per-commit or coalesced**: ``step(coalesce=True)`` hands the
  consumer ONE diff spanning everything since the cursor (cheapest —
  intermediate churn collapses); ``coalesce=False`` replays commit by
  commit for consumers that need every intermediate image. Snapshot GC
  bounds how far back per-commit replay can reach; the coalesced path
  only needs the cursor version itself to still exist.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..lake.table import LakeTable


class ChangeFeedFollower:
    def __init__(self, table: LakeTable, cursor_path: str):
        self.table = table
        self.cursor_path = os.path.abspath(cursor_path)

    # ---------- cursor ----------

    def position(self) -> int:
        """Last table version this follower has fully consumed; the
        table's current version at first use (consume only NEW commits;
        pass an explicit start via :meth:`seek` to backfill)."""
        if os.path.isfile(self.cursor_path):
            with open(self.cursor_path) as f:
                return int(json.load(f)["version"])
        v = self.table.current_version()
        self._write(v)
        return v

    def seek(self, version: int) -> None:
        self._write(version)

    def _write(self, version: int) -> None:
        tmp = self.cursor_path + ".tmp"
        d = os.path.dirname(self.cursor_path)
        if d:
            os.makedirs(d, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump({"version": int(version)}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self.cursor_path)

    # ---------- consumption ----------

    def step(self, consume, coalesce: bool = True) -> int:
        """Deliver everything committed since the cursor to ``consume``
        (a callable taking ``(df: DataFrame, v_from: int, v_to: int)``),
        then advance the cursor. Returns the number of windows delivered
        (0 = nothing new; no Spark job ran). The cursor advances only
        after ``consume`` returns, so a crash inside it redelivers the
        identical window on the next poll."""
        cur = self.position()
        head = self.table.current_version()
        if head <= cur:
            return 0
        if coalesce:
            windows = [(cur, head)]
        else:
            # clamp to the COMMITTED head: history() lists v{N}.json files,
            # which can include a crashed writer's orphan (snapshot written,
            # crash before the VERSION pointer swap). Consuming it would
            # deliver an uncommitted diff and advance the cursor past the
            # version the restarted writer will actually commit.
            versions = sorted(
                s["version"]
                for s in self.table.history()
                if cur < s["version"] <= head
            )
            windows = list(zip([cur] + versions[:-1], versions))
        for v_from, v_to in windows:
            df = self.table.changes(v_from, v_to)
            consume(df, v_from, v_to)
            self._write(v_to)
        return len(windows)

    def read_pending(self) -> DataFrame:
        """The un-consumed diff as a DataFrame without advancing the
        cursor (peek)."""
        return self.table.changes(self.position())
