"""Streaming runner — ``readStream`` over the WAL directory → ``foreachBatch``.

The reference emulated a stream with a batch poller: each run selected
``is_processed = 0`` rows, processed them, and flipped the flag
(``/root/reference/config/queries.py:34``,
``src/database/operations.py:95-108``). Here that loop is the real thing:

- the change log is an append-only directory of parquet files (a binlog
  segment per file); Spark's file-stream source handles discovery,
  ordering, and offset tracking in its checkpoint (replaces the
  reference's S3 ``fs.glob`` polling, ``src/utils/s3_utils.py:68-85``);
- ``foreachBatch`` = one "job run" of the reference; inside it,
  :meth:`CdcEngine.apply_batch` is idempotent (LSN watermark + per-doc
  guard), so the at-least-once delivery of a restarted query becomes
  exactly-once end-to-end;
- ``Trigger.AvailableNow`` drains everything currently in the log and
  stops — the replay mode used by the benchmark; ``processingTime``
  triggers give continuous tailing.

Two independent recovery layers (both tested): Spark's own streaming
checkpoint (source offsets) and the engine's manifest/watermark. Either
alone suffices to avoid duplicate application; together a lost checkpoint
directory still cannot double-apply.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..cdc.apply import CdcEngine
from ..cdc.events import EVENT_SCHEMA


class StreamingCdcRunner:
    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        engine: CdcEngine,
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
    ):
        self.spark = spark
        self.log_dir = os.path.abspath(log_dir)
        self.engine = engine
        self.checkpoint_dir = checkpoint_dir or os.path.join(
            engine.table_path, "_stream_checkpoint"
        )
        self.max_files_per_trigger = max_files_per_trigger
        # recent batch ids (diagnostics/tests) — bounded so a long-running
        # continuous tail (~17k micro-batches/day at a 5 s trigger) doesn't
        # grow driver heap forever; batches_total keeps the full count
        self.batches_seen: list[int] = []
        self.batches_total: int = 0
        self._BATCHES_SEEN_MAX = 10_000

    def _reader(self):
        r = self.spark.readStream.schema(EVENT_SCHEMA)
        if self.max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", self.max_files_per_trigger)
        # latestFirst stays False: WAL segments must apply in order
        return r.parquet(self.log_dir)

    def _foreach_batch(self, df, batch_id: int) -> None:
        self.batches_total += 1
        self.batches_seen.append(batch_id)
        if len(self.batches_seen) > self._BATCHES_SEEN_MAX:
            del self.batches_seen[: -self._BATCHES_SEEN_MAX // 2]
        # The streaming batch DataFrame executes through the incremental
        # plan: no column pruning, no pushdown, no AQE — measured ~2× the
        # scan cost. Re-reading the exact same files as a plain batch
        # DataFrame restores full Catalyst optimization; exactly-once is
        # unaffected (same immutable file list from the source's own
        # offset log, and the engine's LSN watermark guards redelivery
        # anyway).
        files = self._batch_files(batch_id)
        if files:
            df = self.spark.read.schema(EVENT_SCHEMA).parquet(*files)
        self.engine.apply_batch(df, batch_id=batch_id)

    # FileStreamSource offset-log format this optimization depends on
    # (a Spark-internal contract, guarded accordingly): the file
    # checkpoint/sources/0/<batch_id> starts with a version line "v1",
    # followed by one JSON object per file, each carrying a "path" key.
    _OFFSET_LOG_VERSION = "v1"

    def _batch_files(self, batch_id: int) -> list[str]:
        """Files of this micro-batch from the FileStreamSource offset log.

        Every ``compactInterval``-th batch (default 10) Spark writes the
        log as ``<N>.compact`` carrying ALL entries so far, each tagged
        with its ``batchId`` — those batches are served by filtering the
        compact file, so the optimization has no periodic perf cliff.

        Returns [] — falling back to the (slower but always-correct)
        incremental streaming plan — whenever the log is absent or does
        NOT match the expected format: a Spark minor-version change to
        the offset-log layout must degrade performance, never
        correctness. The fallback path is oracle-tested
        (tests/test_streaming.py)."""
        import json

        src_dir = os.path.join(self.checkpoint_dir, "sources", "0")
        path = os.path.join(src_dir, str(batch_id))
        compact = not os.path.exists(path)
        if compact:
            path = os.path.join(src_dir, f"{batch_id}.compact")
        try:
            with open(path) as f:
                lines = [ln.strip() for ln in f if ln.strip()]
        except OSError:
            return []
        if not lines or lines[0] != self._OFFSET_LOG_VERSION:
            return []  # unknown log version -> incremental plan
        out = []
        for line in lines[1:]:
            if not line.startswith("{"):
                return []  # unexpected payload shape
            try:
                e = json.loads(line)
            except ValueError:
                return []
            p = e.get("path")
            if not isinstance(p, str):
                return []
            if compact and e.get("batchId") != batch_id:
                continue  # compact files carry the whole history
            out.append(p)
        return out

    def run_available_now(self, timeout_sec: int = 600) -> None:
        """Drain the current log contents exactly once and stop."""
        q = (
            self._reader()
            .writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_sec)
        if q.exception() is not None:
            raise q.exception()
        if not finished:
            q.stop()
            raise TimeoutError(
                "WAL drain did not finish within the timeout — the engine "
                "watermark is consistent (applied batches committed), re-run "
                "to continue from the checkpoint"
            )

    def start_continuous(self, processing_time: str = "5 seconds"):
        """Continuous tailing; returns the StreamingQuery (caller manages)."""
        return (
            self._reader()
            .writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
