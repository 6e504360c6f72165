"""apply_batch — one micro-batch of the CDC engine (SURVEY.md §7.0).

Pipeline per batch (≈ one "job run" of the reference,
``/root/reference/file_standardization_job.py:199-240``):

1. **Idempotency guard** — drop events at or below the table's applied-LSN
   watermark (the reference's ``is_processed`` flag,
   ``src/database/operations.py:95-108``). A retried/replayed batch
   becomes a no-op.
2. **DDL chunking** — split the batch at ``schema_change`` LSNs so data
   events before a rename/add/widen merge under the old schema and events
   after it under the new one (SURVEY.md §7.4 "schema-change/data
   interleaving").
3. **Validation split** — vectorized reason column → (valid, quarantine);
   quarantine is written idempotently per (batch, chunk) directory.
4. **LWW dedup** — :func:`.dedup.lww_winners`, a primitive max per doc_id
   (map-side combine kills most skew); its salted two-phase form engages
   when a chunk exceeds ``salt_threshold`` rows.
5. **MERGE** — bucket-pruned join-and-rewrite with the LSN monotonic guard
   (``new.lsn > old.last_lsn``); deletes tombstone without forgetting
   ``last_lsn`` so lower-LSN stragglers can never resurrect a row.
6. **Lineage manifest** — per-partition rows/LSN-span + quarantine counts
   + skew stats, one atomic JSON per batch (the reference's
   MetricsCollector, ``src/utils/metrics.py:36-177``, made transactional).

Payload→column binding is by **column id**, not name (ids 1..6 fixed at
table create), so a ``rename_column`` mid-stream never breaks ingestion —
the reference got the same effect from its dd_attribute_detail lookup
(``/root/reference/config/queries.py:117-131``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.validation import validation_reason_expr, with_reason
from ..lake.table import BROADCAST_MAX_KEY_ROWS, LakeTable, bucket_expr
from .dedup import lww_winners
from .events import EVENT_SCHEMA, SOURCE_WHITELIST

QUARANTINE_REASONS = ["null_tokens", "empty_tokens", "bad_n_tok", "bad_source"]

# Table-column names a rename_column may NOT target: the event wire
# format's field names plus the engine's internal columns. A table column
# renamed onto one of these would collide with delta/staging columns in
# the merge — and by then the DDL would already be committed with the
# watermark advanced past it, wedging the stream. Rejected at DDL
# application time instead (apply_batch), before anything commits.
WIRE_RESERVED = frozenset(f.name for f in EVENT_SCHEMA.fields) | {
    "route",
    "_bucket",
    # MOR delta layout columns (lake/table.py _resolve_mor): a user column
    # by either name would make every merge-on-read table read ambiguous
    "_seq",
    "_tag",
}

# stable column ids in the target table (order passed to LakeTable.create)
FID_DOC, FID_TOKENS, FID_NTOK, FID_SOURCE, FID_LSN, FID_DELETED = 1, 2, 3, 4, 5, 6

TARGET_COLUMNS = [
    ("doc_id", "string"),
    ("tokens", "array<int>"),
    ("n_tok", "int"),
    ("source", "string"),
    ("last_lsn", "bigint"),
    ("deleted", "boolean"),
]


@dataclass
class BatchMetrics:
    batch_id: int
    chunks: int
    rows_in: int
    rows_valid: int
    rows_quarantined: int
    quarantine_by_reason: dict
    rows_upserts: int
    rows_deletes: int
    schema_changes: int
    lsn_min: int | None
    lsn_max: int | None
    max_key_rows: int
    distinct_keys: int
    salted: bool
    partitions: list  # per-partition lineage rows
    table_version: int

    def to_json(self) -> dict:
        return self.__dict__.copy()


class CdcEngine:
    """Binds a target LakeTable + quarantine sink + manifest directory."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        whitelist: list[str] | None = None,
        # Rows-per-chunk above which the two-phase salted LWW engages.
        # Effectively opt-in by default: the max hash aggregate already
        # pre-reduces every hot key map-side (a key collapses to one row
        # per task before the shuffle), and measured replays show salting
        # a normal batch costs ~1.6x (the (key, salt) pre-reduction
        # multiplies group cardinality by dedup.SALT_BUCKETS). Lower this
        # only for adversarial distributions where a single task's group
        # cardinality overflows the agg hash table.
        salt_threshold: int = 500_000_000,
        n_buckets: int = 16,
        # maintain the token-frequency aggregate (cdc/aggregates.py)
        # incrementally alongside every merge — O(delta) per chunk vs
        # O(corpus) per recompute; opt-in because it adds a bucket-pruned
        # old-side read + two explode passes per chunk
        maintain_vocab: bool = False,
    ):
        self.spark = spark
        self.table_path = os.path.abspath(table_path)
        self.quarantine_path = os.path.join(self.table_path, "quarantine")
        self.quarantine_archive_path = os.path.join(
            self.table_path, "quarantine_archive"
        )
        self.manifest_dir = os.path.join(self.table_path, "_manifest")
        self.whitelist = list(whitelist or SOURCE_WHITELIST)
        # chunks with more rows than this use the two-phase salted LWW
        self.salt_threshold = salt_threshold
        self.n_buckets = n_buckets
        self.table = LakeTable(spark, os.path.join(self.table_path, "target"))
        self._vocab = None
        if maintain_vocab:
            from .aggregates import TokenVocab

            self._vocab = TokenVocab(
                spark,
                self.table_path,
                self.table,
                fids=(FID_DOC, FID_TOKENS, FID_LSN, FID_DELETED),
            )
        # one pool per engine: quarantine writes + lineage scans run as
        # concurrent Spark jobs overlapping the LWW/merge critical path
        self._pool = ThreadPoolExecutor(max_workers=4)
        # merged-row Column trees per schema version (see _merge_chunk)
        self._resolve_cache: dict[int, dict] = {}
        # cumulative per-phase wall seconds across all applied batches
        # (lineage_join / lww_and_stats / routed_write / merge /
        # quarantine_join) — the bench exports these so a round-over-round
        # regression can be localized to a phase instead of guessed at
        self.timings: dict[str, float] = {}

    # ---------- lifecycle ----------

    def init(self) -> None:
        if not self.table.exists():
            LakeTable.create(
                self.spark,
                self.table.path,
                TARGET_COLUMNS,
                key_column="doc_id",
                n_buckets=self.n_buckets,
                properties={"max_applied_lsn": 0, "last_batch_id": -1},
            )
        os.makedirs(self.manifest_dir, exist_ok=True)
        # staging leftovers from a crashed run are RECOVERED, not swept:
        # a crash between the merge's watermark commit and the async
        # quarantine finalize would otherwise lose that chunk's
        # quarantine rows forever (redelivery is LSN-filtered past
        # finalize). Two shapes, both idempotent against redelivery —
        # if the chunk's merge never committed, the redelivered finalize
        # simply replaces the recovered dir with bit-identical content:
        #   b{B}_c{C}/route=q  crash before the reason pass — run it now
        #                      (sorts first, so it supersedes a partial
        #                      staged output of the same chunk).
        #   quar_ + b{B}_c{C}  reasons already assigned; crash was between
        #                      write and rename — finish the rename if the
        #                      write committed (_SUCCESS).
        # Anything else (route=d intermediates, partial writes,
        # unparseable names) is swept; the data path's correctness never
        # depends on staging. Safe here: ingest is single-writer and this
        # engine has not started its own staging yet.
        self._recover_archive_swap()
        stg = os.path.join(self.table_path, "_staging")
        if os.path.isdir(stg):
            for d in sorted(os.listdir(stg)):
                path = os.path.join(stg, d)
                m = re.fullmatch(r"(quar_)?b(\d+)_c(\d+)", d)
                if m:
                    b, c = int(m.group(2)), int(m.group(3))
                    qdir = self._quarantine_dir(b, c)
                    qsrc = os.path.join(path, "route=q")
                    if os.path.exists(qdir):
                        pass  # already finalized
                    elif m.group(1):
                        if os.path.exists(os.path.join(path, "_SUCCESS")):
                            self._promote_quarantine(path, qdir)
                            continue
                    elif os.path.isdir(qsrc):
                        self._finalize_quarantine(self.spark.read.parquet(qsrc), b, c)
                shutil.rmtree(path, ignore_errors=True)
        # vocab outbox lives OUTSIDE _staging (the sweep above must never
        # eat a committed-but-unfolded delta); recover() folds or drops it
        if self._vocab is not None:
            self._vocab.init()

    def applied_lsn(self) -> int:
        return int(self.table.properties().get("max_applied_lsn", 0))

    def _recover_archive_swap(self) -> None:
        """requeue_quarantine archive-swap recovery: a crash between the
        two renames leaves only `.old` (original content, rescued rows
        included) — restore it; the already-merged rescues simply no-op
        on the LSN guard when requeued again. `.old` next to a live
        archive means the swap completed — drop the leftover. Called from
        init() AND at the top of requeue_quarantine itself, so a re-run
        through an entrypoint that skipped init() can never see (or
        clobber) a half-swapped archive."""
        old = self.quarantine_archive_path + ".old"
        if os.path.isdir(old):
            if not os.path.isdir(self.quarantine_archive_path):
                os.rename(old, self.quarantine_archive_path)
            else:
                shutil.rmtree(old, ignore_errors=True)

    # ---------- snapshot bootstrap (initial load, then tail) ----------

    def bootstrap(
        self, snapshot: DataFrame, as_of_lsn: int, batch_id: int = 0
    ) -> BatchMetrics:
        """Seed a FRESH table from a consistent source snapshot taken at
        ``as_of_lsn``, so the WAL can be tailed from that point — the
        snapshot-then-stream shape every production CDC deployment starts
        with (the reference's equivalent is its initial full-file load
        before incremental runs, file_standardization_job.py:199-240).

        Contract:
        - ``snapshot`` has one row per live doc: (doc_id, tokens, n_tok,
          source) plus an optional per-row ``lsn`` (the source LSN each
          row was read at; defaults to ``as_of_lsn``). Per-row LSNs must
          be in [1, as_of_lsn] and doc_ids unique — both asserted with
          one narrow aggregate (no token arrays in the agg buffer).
        - Rows pass the SAME validation battery as the stream; invalid
          rows land in quarantine under this batch_id, valid rows become
          the table state with ``deleted=false``.
        - Exactly-once: quarantine is stage-then-renamed (idempotent on
          re-run), the vocab outbox (if enabled) is staged durably via
          ``pre_commit``, and the data + ``max_applied_lsn=as_of_lsn``
          watermark land in ONE commit. A crash anywhere before that
          commit leaves the table fresh — re-running bootstrap is safe;
          after it, re-running raises and tailing resumes at the
          watermark, so redelivered WAL prefixes no-op.
        - Scale shape: token arrays are decoded in exactly one full pass
          (the bucketed overwrite write; plus one more if vocab
          maintenance is on). No LWW shuffle — a consistent snapshot is
          already one row per key, which is why uniqueness is asserted
          rather than deduped (ties at equal LSN would be
          nondeterministic).
        """
        if as_of_lsn < 1:
            raise ValueError(f"as_of_lsn must be >= 1, got {as_of_lsn}")
        props = self.table.properties()
        if int(props.get("max_applied_lsn", 0)) != 0 or int(
            props.get("last_batch_id", -1)
        ) != -1:
            raise ValueError(
                "bootstrap requires a fresh table (nothing applied); this "
                f"table is at lsn={props.get('max_applied_lsn')} "
                f"batch={props.get('last_batch_id')} — tail the WAL instead"
            )
        cols = snapshot.columns
        if "lsn" not in cols:
            snapshot = snapshot.withColumn("lsn", F.lit(as_of_lsn).cast("long"))
        snap_wire = snapshot.select(
            "doc_id", "tokens", "n_tok", "source", "lsn"
        ).withColumn("op", F.lit("insert"))

        lineage_future = self._pool.submit(
            lambda: snap_wire.groupBy(F.spark_partition_id().alias("pid"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min("lsn").alias("lsn_min"),
                F.max("lsn").alias("lsn_max"),
            )
            .collect()
        )
        # narrow integrity agg: doc_id/lsn only, map-side combined. Any
        # error on the validation paths must JOIN the lineage future first
        # (mirror of the stage_future handling around overwrite below):
        # raising past a still-running pool job leaves an orphaned
        # concurrent Spark collect and swallows its own failure.
        try:
            stats = snap_wire.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("doc_id").alias("nd"),
                F.min("lsn").alias("lmin"),
                F.max("lsn").alias("lmax"),
            ).collect()[0]
            rows_in = stats["n"] or 0
            if rows_in and stats["nd"] != rows_in:
                raise ValueError(
                    f"snapshot is not one row per doc_id ({rows_in} rows, "
                    f"{stats['nd']} keys) — a consistent snapshot cannot "
                    "contain duplicates; dedup upstream (LWW needs an LSN order)"
                )
            if rows_in and (stats["lmin"] < 1 or stats["lmax"] > as_of_lsn):
                raise ValueError(
                    f"per-row lsn range [{stats['lmin']}, {stats['lmax']}] "
                    f"outside [1, as_of_lsn={as_of_lsn}]"
                )
        except BaseException:
            try:
                lineage_future.result()
            except Exception:
                pass
            raise

        expr_r = validation_reason_expr(
            F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"),
            self.whitelist,
        )
        valid = snap_wire.filter(expr_r.isNull())
        invalid = snap_wire.filter(expr_r.isNotNull())

        ck = as_of_lsn  # the chunk key: the snapshot's one "chunk"
        qm = self._finalize_quarantine(invalid, batch_id, ck)
        rows_q = qm["n"]
        by_reason = {r: qm[r] for r in QUARANTINE_REASONS if qm[r]}

        stage_future = None
        if self._vocab is not None:
            delta_wire = valid.select("doc_id", "lsn", "op", "tokens")
            stage_future = self._pool.submit(
                self._vocab.stage_delta,
                batch_id, ck, delta_wire, [], as_of_lsn, True,
            )

        n = self._names()
        target = valid.select(
            F.col("doc_id").alias(n[FID_DOC]),
            F.col("tokens").alias(n[FID_TOKENS]),
            F.col("n_tok").alias(n[FID_NTOK]),
            F.col("source").alias(n[FID_SOURCE]),
            F.col("lsn").alias(n[FID_LSN]),
            F.lit(False).alias(n[FID_DELETED]),
        )
        try:
            self.table.overwrite(
                target,
                expected_version=self.table.current_version(),
                properties_update={
                    "max_applied_lsn": as_of_lsn,
                    "last_batch_id": batch_id,
                },
                pre_commit=(
                    stage_future.result if stage_future is not None else None
                ),
            )
        except BaseException:
            if stage_future is not None:
                try:
                    stage_future.result()
                except Exception:
                    pass
            raise
        if stage_future is not None:
            self._vocab.maybe_fold()

        cells = lineage_future.result()
        rows_valid = rows_in - rows_q
        metrics = BatchMetrics(
            batch_id=batch_id,
            chunks=1,
            rows_in=rows_in,
            rows_valid=rows_valid,
            rows_quarantined=rows_q,
            quarantine_by_reason=by_reason,
            rows_upserts=rows_valid,
            rows_deletes=0,
            schema_changes=0,
            lsn_min=stats["lmin"],
            lsn_max=stats["lmax"],
            max_key_rows=1 if rows_in else 0,
            distinct_keys=rows_valid,
            salted=False,
            partitions=[
                {
                    "chunk": 0,
                    "partition_id": r["pid"],
                    "rows": r["rows"],
                    "lsn_min": r["lsn_min"],
                    "lsn_max": r["lsn_max"],
                }
                for r in cells
            ],
            table_version=self.table.current_version(),
        )
        self._write_manifest(metrics)
        return metrics

    # ---------- field-id → current-name resolution ----------

    def _names(self) -> dict[int, str]:
        return {c.id: c.name for c in self.table.schema().columns}

    # ---------- state readers ----------

    def state(self, include_deleted: bool = False) -> DataFrame:
        n = self._names()
        df = self.table.read()
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(n[FID_DELETED]), F.lit(False)))
        return df

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two target-table snapshots
        (see :meth:`LakeTable.changes`): the engine emits a changelog a
        downstream CDC consumer could itself tail. Column names are
        bound by field id against the v_to snapshot, so a rename
        between the versions cannot misalign the LSN/tombstone checks."""
        from ..lake.table import TableSchema

        snap_to = self.table.snapshot(v_to)
        names = {
            c.id: c.name for c in TableSchema.from_json(snap_to["schema"]).columns
        }
        return self.table.changes(
            v_from,
            v_to,
            lsn_column=names[FID_LSN],
            deleted_column=names[FID_DELETED],
        )

    def _quarantine_schema(self) -> T.StructType:
        # Format note: round 3 changed 'chunk' from a positional int32 to
        # the chunk's max data LSN as int64 (stable across partial-batch
        # redelivery). A quarantine tree/archive written by the earlier
        # layout would need a one-off rewrite (read with the old schema,
        # rewrite); no such deployments exist — the format is
        # sandbox-internal and versioned with the repo.
        return (
            T.StructType([f for f in EVENT_SCHEMA.fields if f.name != "schema_change"])
            .add("reason", T.StringType())
            .add("batch_id", T.LongType())
            .add("chunk", T.LongType())
        )

    def _quarantine_dir(self, batch_id: int, ck: int) -> str:
        return os.path.join(self.quarantine_path, f"batch_id={batch_id}", f"chunk={ck}")

    def _finalize_quarantine(self, rows: DataFrame, batch_id: int, ck: int) -> dict:
        """The one quarantine writer: assign each of ``rows`` its
        authoritative reason (:func:`with_reason`), count by reason from
        the write's own Observation, stage the result under ``_staging``
        and rename it into ``quarantine/batch_id=B/chunk=C``.

        Staged OUTSIDE the partition-discovered quarantine tree (a crashed
        leftover named chunk=M.inprogress would poison partition
        discovery) and renamed whole, so the chunk dir is all-or-nothing:
        a redelivered chunk replaces it with identical content, and a
        crash leaves a staged dir that ``init()`` finishes or re-derives.
        A chunk with no rows keeps whatever dir it already has. Spark's
        ``_SUCCESS`` marker rides the rename into the chunk dir.

        Returns ``{"n": rows, <reason>: rows, ...}``.
        """
        obs = Observation(f"quar-{batch_id}-{ck}")
        reasoned = with_reason(rows, self.whitelist).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.when(F.col("reason") == r, 1).otherwise(0)).alias(r)
                for r in QUARANTINE_REASONS
            ],
        )
        tmp = os.path.join(self.table_path, "_staging", f"quar_b{batch_id}_c{ck}")
        reasoned.write.mode("overwrite").parquet(tmp)
        got = obs.get  # safe: the write action ran
        counts = {k: int(got.get(k) or 0) for k in ["n", *QUARANTINE_REASONS]}
        if counts["n"]:
            self._promote_quarantine(tmp, self._quarantine_dir(batch_id, ck))
        else:
            shutil.rmtree(tmp, ignore_errors=True)
        return counts

    @staticmethod
    def _promote_quarantine(tmp: str, qdir: str) -> None:
        """Rename a staged, reasoned chunk into place (replacing any
        previous delivery). A concurrent compact_quarantine may rmdir the
        emptied batch dir between makedirs and rename; losing the rename
        would drop the chunk's rows forever (redelivery is LSN-filtered),
        so retry the pair — compaction empties a batch dir at most once
        per listed chunk, so this settles."""
        if os.path.exists(qdir):
            shutil.rmtree(qdir)
        for attempt in range(10):
            os.makedirs(os.path.dirname(qdir), exist_ok=True)
            try:
                os.rename(tmp, qdir)
                return
            except FileNotFoundError:
                if attempt == 9:
                    raise

    def vocab(self) -> DataFrame:
        """(token, n_occ, n_docs) — the incrementally-maintained corpus
        token-frequency aggregate (requires ``maintain_vocab=True``)."""
        if self._vocab is None:
            raise ValueError("engine was created with maintain_vocab=False")
        return self._vocab.counts()

    def dedup_correct_events(self, n: int = 8, k: int | None = None) -> DataFrame:
        """Corrective change events for duplicated n-TOKEN spans in the
        CURRENT live state — across or within documents, the full
        ExactSubstr rule (Lee et al. 2022): every non-keeper occurrence
        masked (keeper = corpus-global min (doc_id, pos)), affected rows
        emitted as UPDATE events carrying the cleaned token array (or
        DELETE when fully masked), with partition-parallel LSNs starting
        at ``applied_lsn() + 1``. Apply the result through
        :meth:`apply_batch` — corrections re-enter through the same
        exactly-once / LWW / quarantine / lineage merge as any upstream
        feed (jobs/maintain.py ``--dedup-correct N`` persists the
        segment first, the durable-WAL shape). Columns are resolved by
        stable field id, so a rename DDL cannot misalign the payload.
        ``k`` bounds output to the top-k most-damaged docs (None = all
        affected rows, unordered — the maintenance shape)."""
        from ..operators.tokenize import strip_dup_token_spans_rewrite
        from ..sources.readers import rewrites_as_update_events

        names = self._names()
        state = self.state().select(
            F.col(names[FID_DOC]).alias("doc_id"),
            F.col(names[FID_TOKENS]).alias("tokens"),
            F.col(names[FID_SOURCE]).alias("source"),
        )
        rewrite = strip_dup_token_spans_rewrite(state, col="tokens", n=n, k=k)
        return rewrites_as_update_events(rewrite, state, self.applied_lsn() + 1)

    def quarantine(self) -> DataFrame:
        # Existence-gated like the staging reads (ADVICE r1): an absent
        # tree means "nothing quarantined yet"; a real read failure on an
        # existing tree must propagate, not masquerade as empty. The read
        # uses the explicit quarantine schema so a crash-recovery state
        # where the tree exists but holds no parquet yet (finalize died
        # between makedirs and rename) yields the typed empty frame
        # instead of an UNABLE_TO_INFER_SCHEMA error. Content = archive
        # (compacted history) ∪ live per-(batch, chunk) tree.
        schema = self._quarantine_schema()
        cols = [f.name for f in schema.fields]
        archive = live = None
        # live tree first, archive second: a compaction finishing between
        # the two checks then moves rows INTO a side we still look at —
        # the reverse order could miss the archive entirely (rows moved
        # out of a not-yet-read live tree into a not-checked archive)
        if os.path.isdir(self.quarantine_path):
            live = self.spark.read.schema(schema).parquet(self.quarantine_path)
        if os.path.isdir(self.quarantine_archive_path):
            archive = self.spark.read.schema(schema).parquet(
                self.quarantine_archive_path
            )
        if archive is None and live is None:
            return self.spark.createDataFrame([], schema)
        if archive is None:
            return live
        if live is None:
            return archive
        # a compaction crash between archive append and tree removal may
        # leave rows in both places — the same lsn anti-join compaction
        # uses keeps the union exactly-once (LSNs are unique)
        fresh = live.join(archive.select("lsn"), "lsn", "left_anti").select(*cols)
        return archive.unionByName(fresh)

    def compact_quarantine(self) -> int:
        """Fold the per-(batch, chunk) quarantine partition tree into the
        consolidated archive (plain parquet, batch_id/chunk as ordinary
        columns) and clear the tree.

        Why: the tree gains one directory per (batch, chunk) — the unit
        of idempotent redelivery replacement — which is exactly right for
        LIVE batches and exactly wrong at 10⁵ applied batches (partition
        discovery cost, small files). Compaction is safe for everything
        below the applied-LSN watermark, i.e. all of it: a redelivered
        old batch is fully LSN-filtered before the quarantine path runs,
        so nothing can ever rewrite those directories again.

        Crash-idempotent without a transaction log: rows are appended to
        the archive MINUS an anti-join on ``lsn`` against what the
        archive already holds (LSNs are unique), so a crash anywhere —
        mid-append, or between append and tree removal — re-runs to the
        same final state with no loss and no duplicates (``quarantine()``
        applies the same anti-join to its union, so even the crash window
        itself never double-counts).

        Concurrency-safe against a live ingester at CHUNK granularity:
        only the (batch, chunk) directories that existed when this call
        LISTED the tree are read and deleted. A chunk dir is the unit the
        ingester creates atomically (stage-then-rename in
        _finalize_quarantine), so a chunk finalized concurrently — even
        into an already-listed batch dir — is untouched and picked up by
        the next compaction. Batch dirs are removed only once empty.

        Single-pass: the row count rides the write via an Observation
        (staged under an underscore-prefixed dir Spark readers ignore,
        promoted only when non-empty; leftover stages from crashed runs
        are swept on entry), instead of a second scan of tree + archive.

        Returns the number of rows archived this call.
        """
        import uuid as _uuid

        # sweep stage dirs a crashed run left behind (their rows are
        # either fully promoted already or still in the live tree)
        if os.path.isdir(self.quarantine_archive_path):
            for d in os.listdir(self.quarantine_archive_path):
                if d.startswith("_stage_"):
                    shutil.rmtree(
                        os.path.join(self.quarantine_archive_path, d),
                        ignore_errors=True,
                    )
        if not os.path.isdir(self.quarantine_path):
            return 0
        chunk_dirs: list[str] = []
        for b in sorted(os.listdir(self.quarantine_path)):
            bdir = os.path.join(self.quarantine_path, b)
            if not (b.startswith("batch_id=") and os.path.isdir(bdir)):
                continue
            for c in sorted(os.listdir(bdir)):
                cdir = os.path.join(bdir, c)
                if c.startswith("chunk=") and os.path.isdir(cdir):
                    chunk_dirs.append(cdir)
        if not chunk_dirs:
            return 0
        schema = self._quarantine_schema()
        live = (
            self.spark.read.schema(schema)
            .option("basePath", self.quarantine_path)
            .parquet(*chunk_dirs)
        )
        if os.path.isdir(self.quarantine_archive_path):
            archived = self.spark.read.schema(schema).parquet(
                self.quarantine_archive_path
            )
            live = live.join(archived.select("lsn"), "lsn", "left_anti")
        # column order back to schema order (join moved lsn first)
        live = live.select(*[f.name for f in schema.fields])

        obs = Observation(f"quar-compact-{_uuid.uuid4().hex[:8]}")
        stage = os.path.join(
            self.quarantine_archive_path, f"_stage_{_uuid.uuid4().hex[:8]}"
        )
        live.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(stage)
        n = int(obs.get.get("n") or 0)
        if n:
            for f in os.listdir(stage):
                if f.startswith("part-"):
                    os.rename(
                        os.path.join(stage, f),
                        os.path.join(self.quarantine_archive_path, f),
                    )
        shutil.rmtree(stage, ignore_errors=True)
        for cdir in chunk_dirs:
            shutil.rmtree(cdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(cdir))  # batch dir, only if empty
            except OSError:
                pass
        return n

    def requeue_quarantine(self, whitelist: list[str] | None = None) -> dict:
        """Re-validate quarantined events against ``whitelist`` (typically
        a widened source whitelist after a config fix) and apply the
        now-valid ones through the standard LWW merge — the dead-letter
        replay every production CDC pipeline eventually needs.

        Correctness comes from the merge's own monotone-LSN guard: a
        rescued event's LSN is below the watermark by construction, so if
        its doc has since received a newer event the rescue loses the LWW
        compare and changes nothing; otherwise it applies exactly as it
        would have originally. The watermark itself never moves.

        Exactly-once across crashes, in commit order:
        1. vocab outbox (if enabled) stages with ``requires_version`` =
           the version this merge will create — recovery folds it only if
           that version exists (a watermark comparison can't decide here
           because requeue doesn't advance it);
        2. the merge commits data (+ unchanged watermark properties);
        3. rescued rows are dropped from quarantine via
           compact-then-filtered-archive-swap. A crash before (3) leaves
           them quarantined but already applied — a re-run re-rescues
           them and every merge no-ops on the LSN guard, then completes
           the cleanup. The archive swap itself is crash-recovered by
           ``init()`` (``quarantine_archive.old``).

        Ops contract: run with the ingester stopped (like ``rebucket``) —
        the archive swap and the requires_version reasoning both assume
        this process is the single writer. A table whose vocab aggregate
        is maintained must requeue through a vocab-aware engine
        (guarded). Events below the ``tombstones_expired_below_lsn``
        fence (recorded by jobs/maintain.py --expire-tombstones) are
        never rescued: the tombstones that would veto them are gone, so
        applying them could resurrect deleted docs — they stay
        quarantined instead.

        Returns {"examined", "count_drift", "rescued", "merged"} counts
        (count_drift is 0 under the single-writer contract; nonzero
        flags a concurrent writer racing the archive swap).
        """
        # a table whose vocab aggregate is maintained on disk MUST requeue
        # through a vocab-aware engine, or the rescue merge would commit
        # token changes the aggregate never sees (permanent drift)
        if self._vocab is None and os.path.isdir(
            os.path.join(self.table_path, "vocab", "_meta")
        ):
            raise ValueError(
                "this table maintains a token-vocabulary aggregate; "
                "construct CdcEngine(maintain_vocab=True) before requeueing"
            )
        self._recover_archive_swap()
        wl = list(whitelist) if whitelist is not None else list(self.whitelist)
        q = self.quarantine()
        # tombstone-expiry fence: expiry physically dropped tombstones
        # below this LSN, so a rescue below it could resurrect a deleted
        # doc (the information needed to refuse it is gone). Such events
        # stay quarantined.
        fence = int(
            self.table.properties().get("tombstones_expired_below_lsn", 0)
        )
        expr_r = validation_reason_expr(
            F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"), wl
        )
        # materialize the rescued set FIRST: every later step (LWW, merge
        # delta, cleanup anti-join) reads this file-backed frame, because
        # the source quarantine paths are mutated by the cleanup below and
        # a lazy plan over them would recompute against moved files
        rescued_stage = os.path.join(self.table_path, "_staging", "requeue_rescued")
        obs_q = Observation("requeue-examined")
        obs_r = Observation("requeue-rescued")
        # examined is observed BELOW the rescue filter in the same plan —
        # one quarantine scan produces both counts (CollectMetrics blocks
        # predicate pushdown, so the filter cannot shrink what obs_q sees)
        q.observe(obs_q, F.count(F.lit(1)).alias("n")).filter(
            expr_r.isNull() & (F.col("lsn") >= F.lit(fence))
        ).select(
            "doc_id", "lsn", "op", "tokens", "n_tok", "source"
        ).observe(obs_r, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(rescued_stage)
        examined = int(obs_q.get.get("n") or 0)
        rescued_n = int(obs_r.get.get("n") or 0)
        if rescued_n == 0:
            shutil.rmtree(rescued_stage, ignore_errors=True)
            return {"examined": examined, "rescued": 0, "merged": 0}
        rescued = self.spark.read.parquet(rescued_stage)
        # LWW within the rescued set (one doc may have several rescued
        # events), by the same aggregate as the hot path
        winners = lww_winners(rescued).select("doc_id", "lsn")
        delta = rescued.join(winners, ["doc_id", "lsn"])
        nb = self.table.snapshot()["n_buckets"]
        stats = (
            delta.select(bucket_expr(F.col("doc_id"), nb).alias("_b"))
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.collect_set("_b").alias("buckets"))
            .collect()[0]
        )
        n_delta = int(stats["n"] or 0)
        affected = [int(b) for b in (stats["buckets"] or [])]

        stage_future = None
        if self._vocab is not None:
            # requeue pendings live on their own marker axis
            # (folded_requeue_version, keyed by the version this merge
            # will create) — they must NOT borrow the stream's
            # (batch, chunk) order: a synthetic chunk id above the
            # watermark would advance the stream marker past a later
            # REDELIVERED chunk of the same batch (whose lsn-keyed id is
            # smaller), silently dropping that chunk's vocab delta.
            # batch_id/chunk here are informational only.
            rv = self.table.current_version() + 1
            stage_future = self._pool.submit(
                self._vocab.stage_delta,
                int(self.table.properties().get("last_batch_id", -1)),
                0,
                delta,
                affected,
                self.applied_lsn(),
                False,
                rv,
                n_delta,
            )
        try:
            self._merge_chunk(
                delta,
                n_delta,
                watermark=self.applied_lsn(),
                batch_id=int(self.table.properties().get("last_batch_id", -1)),
                affected_buckets=affected,
                pre_commit=(
                    stage_future.result if stage_future is not None else None
                ),
                # MUST be copy-on-write: merge-on-read's read resolution
                # lets the newest delta commit win per key, which is only
                # correct when delta LSNs are monotone above the base
                # (stream batches, via the watermark filter). Requeued
                # LSNs are below the watermark by construction — only the
                # CoW resolver's explicit `new.lsn > old.last_lsn` guard
                # evaluates them correctly.
                mode="cow",
            )
        except BaseException:
            if stage_future is not None:
                try:
                    stage_future.result()
                except Exception:
                    pass
            raise
        if stage_future is not None:
            self._vocab.maybe_fold()

        # cleanup: fold the live tree into the archive, then swap in an
        # archive minus every rescued lsn (winners AND superseded losers —
        # the losers can never apply again either)
        self.compact_quarantine()
        schema = self._quarantine_schema()
        kept = 0
        if os.path.isdir(self.quarantine_archive_path):
            arch = self.spark.read.schema(schema).parquet(
                self.quarantine_archive_path
            )
            keep = arch.join(rescued.select("lsn"), "lsn", "left_anti").select(
                *[f.name for f in schema.fields]
            )
            obs = Observation("requeue-keep")
            tmp = os.path.join(self.table_path, "_staging", "requeue_archive")
            keep.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(tmp)
            kept = int(obs.get.get("n") or 0)
            # crash-recovered swap (init() handles a dangling .old)
            old = self.quarantine_archive_path + ".old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(self.quarantine_archive_path, old)
            os.rename(tmp, self.quarantine_archive_path)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(rescued_stage, ignore_errors=True)
        # kept + rescued == examined under the documented single-writer
        # contract; a concurrent ingester quarantining rows between the
        # `examined` observation and the archive swap drifts the counts.
        # Everything above has already committed, so report the drift
        # (loudly) rather than fail a requeue that succeeded — and never
        # via bare assert, which -O compiles out.
        drift = (
            kept + rescued_n - examined
            if os.path.isdir(self.quarantine_archive_path)
            else 0
        )
        if drift:
            print(
                f"[cdc] requeue count drift {drift:+d} "
                f"(kept={kept} rescued={rescued_n} examined={examined}) — "
                "concurrent writer during a documented single-writer op?",
                flush=True,
            )
        return {
            "examined": examined,
            "count_drift": drift,
            "rescued": rescued_n,
            "merged": n_delta,
        }

    def manifest(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.manifest_dir)):
            if f.endswith(".json"):
                with open(os.path.join(self.manifest_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

    # ---------- the merge resolution ----------

    def _merge_chunk(
        self,
        delta: DataFrame,
        delta_rows: int,
        watermark: int,
        batch_id: int,
        affected_buckets: list[int] | None = None,
        delta_bytes: int | None = None,
        pre_commit=None,
        mode: str = "auto",
    ) -> None:
        n = self._names()
        key = n[FID_DOC]
        schema_ver = self.table.schema().version
        # Wire→table key binding: events always say 'doc_id' (the wire
        # format is fixed); if a schema_change renamed the TABLE's key
        # column, merge must see the delta's key under the table name —
        # its bucket expression and join condition use snapshot
        # key_column. Payload columns need no rename (resolve() binds
        # them wire-name → field-id explicitly).
        if key != "doc_id":
            if key in delta.columns:
                raise ValueError(
                    f"key column renamed to wire-reserved name {key!r}; "
                    "choose a name not used by the event wire format"
                )
            delta = delta.withColumnRenamed("doc_id", key)

        def resolve(old: dict, new: dict) -> dict:
            # The merged-row expressions depend only on column NAMES, so
            # the Column tree is cached per schema version: building it is
            # ~100 Py4J round trips (~0.5-1.5 s/batch of pure driver time),
            # and merge evaluates it once per call, i.e. once per chunk.
            cached = self._resolve_cache.get(schema_ver)
            if cached is not None:
                return cached
            take_new = new["lsn"].isNotNull() & (
                old[n[FID_LSN]].isNull() | (new["lsn"] > old[n[FID_LSN]])
            )
            is_del = new["op"] == "delete"
            out = {
                # delta's key column was bound to the table key name above
                key: F.coalesce(old[key], new[key]),
                n[FID_TOKENS]: F.when(
                    take_new, F.when(is_del, F.lit(None)).otherwise(new["tokens"])
                ).otherwise(old[n[FID_TOKENS]]),
                n[FID_NTOK]: F.when(
                    take_new, F.when(is_del, F.lit(None)).otherwise(new["n_tok"])
                ).otherwise(old[n[FID_NTOK]]),
                n[FID_SOURCE]: F.when(
                    take_new, F.when(is_del, F.lit(None)).otherwise(new["source"])
                ).otherwise(old[n[FID_SOURCE]]),
                n[FID_LSN]: F.when(take_new, new["lsn"]).otherwise(old[n[FID_LSN]]),
                n[FID_DELETED]: F.when(take_new, is_del).otherwise(
                    F.coalesce(old[n[FID_DELETED]], F.lit(False))
                ),
            }
            # columns added by schema evolution: carry old value (null for new rows)
            for c in self.table.schema().columns:
                if c.name not in out:
                    out[c.name] = old[c.name]
            self._resolve_cache[schema_ver] = out
            return out

        self.table.merge(
            delta,
            resolve,
            properties_update={"max_applied_lsn": watermark, "last_batch_id": batch_id},
            delta_rows=delta_rows,
            affected_buckets=affected_buckets,
            delta_bytes=delta_bytes,
            mode=mode,
            pre_commit=pre_commit,
            # vocab maintenance re-reads the affected buckets' old rows
            # EVERY batch (stage_delta's pre-merge snapshot scan), so read
            # amplification grows with MOR stack depth — fold around depth
            # 3 instead of 8 (the cycle-cost minimum; see merge docstring
            # and BENCH_DETAIL.json vocab_maintenance)
            max_stack=3 if self._vocab is not None else None,
        )

    # ---------- apply one micro-batch ----------

    def apply_batch(self, events: DataFrame, batch_id: int) -> BatchMetrics:
        applied = self.applied_lsn()
        events = events.filter(F.col("lsn") > F.lit(applied))

        # DDL boundaries (schema_change events are rare; collect is tiny)
        ddl = sorted(
            (
                (r["lsn"], json.loads(r["schema_change"]))
                for r in events.filter(F.col("op") == "schema_change").collect()
            ),
            key=lambda x: x[0],
        )
        data = events.filter(F.col("op") != "schema_change")

        bounds: list[tuple[int | None, int | None, dict | None]] = []
        lo = None
        for lsn, change in ddl:
            bounds.append((lo, lsn, change))
            lo = lsn
        bounds.append((lo, None, None))

        totals = {
            "rows_in": 0,
            "rows_valid": 0,
            "rows_quarantined": 0,
            "rows_upserts": 0,
            "rows_deletes": 0,
            "max_key_rows": 0,
            "distinct_keys": 0,
        }
        by_reason: dict[str, int] = {}
        partitions: list[dict] = []
        lsn_min = lsn_max = None
        salted_any = False

        for ci, (lo, hi, change) in enumerate(bounds):
            chunk = data
            if lo is not None:
                chunk = chunk.filter(F.col("lsn") > F.lit(lo))
            if hi is not None:
                chunk = chunk.filter(F.col("lsn") < F.lit(hi))
            # Pass structure — the WAL chunk's token arrays are decoded in
            # exactly TWO full passes, everything else rides those jobs or
            # touches only small staged outputs:
            #   async  lineage: per-partition rows + LSN span over the raw
            #          chunk — narrow columnar scan (no arrays), joined
            #          before the salt gate / watermark commit.
            #   pass 1 LWW: narrow (doc_id → max lsn, cnt, winner-op) agg
            #          over validity-filtered rows (validity needs
            #          size(tokens), so arrays decode once); one collect
            #          returns delta size, skew stats, delete count, and
            #          the affected-bucket set.
            #   pass 2 routed write: ONE scan left-joins the broadcast
            #          winner keys and writes partitionBy(route):
            #          invalid → route=q, valid winner → route=d, valid
            #          loser dropped. This fuses what used to be two more
            #          full passes (quarantine write + delta semi-join).
            #   async  quarantine finalize: the small route=q slice
            #          through _finalize_quarantine (Arrow UDF reasons,
            #          stage-then-rename, counts from an Observation).
            #   sync   merge: reads the file-backed route=d delta (no
            #          persist, no recompute races) into the bucket-pruned
            #          MERGE (no internal distinct/count jobs).
            _t = time.time()

            def _mark(label):
                nonlocal _t
                self.timings[label] = self.timings.get(label, 0.0) + time.time() - _t
                _t = time.time()

            lineage_future = self._pool.submit(
                lambda chunk=chunk: chunk.groupBy(
                    F.spark_partition_id().alias("pid")
                )
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.min("lsn").alias("lsn_min"),
                    F.max("lsn").alias("lsn_max"),
                )
                .collect()
            )

            expr_r = validation_reason_expr(
                F.col("op"),
                F.col("tokens"),
                F.col("n_tok"),
                F.col("source"),
                self.whitelist,
            )
            valid = chunk.filter(expr_r.isNull())

            # lineage joins here: the narrow scan overlapped plan
            # construction, and rows_in gates the salt path
            cells = lineage_future.result()
            rows_in = sum(r["rows"] for r in cells)
            totals["rows_in"] += rows_in
            chunk_lsn_max = None
            for r in cells:
                partitions.append(
                    {
                        "chunk": ci,
                        "partition_id": r["pid"],
                        "rows": r["rows"],
                        "lsn_min": r["lsn_min"],
                        "lsn_max": r["lsn_max"],
                    }
                )
                lsn_min = r["lsn_min"] if lsn_min is None else min(lsn_min, r["lsn_min"])
                lsn_max = r["lsn_max"] if lsn_max is None else max(lsn_max, r["lsn_max"])
                chunk_lsn_max = (
                    r["lsn_max"] if chunk_lsn_max is None else max(chunk_lsn_max, r["lsn_max"])
                )
            _mark("lineage_join")

            # Quarantine/staging dirs are keyed by the chunk's MAX DATA
            # LSN, not its positional index: on partial-batch redelivery
            # (crash mid-batch, earlier chunks already past the
            # watermark) the surviving events renumber to ci=0, and a
            # positional key would collide with — and rmtree — an
            # earlier chunk's already-finalized quarantine rows. The
            # content-derived LSN key is identical across redeliveries
            # of the SAME chunk (idempotent replacement, intended) and
            # distinct across different chunks. An all-filtered chunk
            # (chunk_lsn_max None) writes nothing; ci is only a
            # placeholder there.
            ck = chunk_lsn_max if chunk_lsn_max is not None else ci
            staging = os.path.join(
                self.table_path, "_staging", f"b{batch_id}_c{ck}"
            )

            # LWW: narrow (key -> max lsn, cnt, winner op) aggregation,
            # then the routed pass fetches the winning payload rows
            dedup_cols = ["doc_id", "lsn", "op", "tokens", "n_tok", "source"]
            salted = rows_in >= self.salt_threshold
            salted_any |= salted
            nb = self.table.snapshot()["n_buckets"]
            winners = lww_winners(valid, salted=salted).withColumn(
                "_wb", bucket_expr(F.col("doc_id"), nb)
            ).persist()
            q_future = None
            stage_future = None
            # unpersist on EVERY exit: an exception mid-chunk (commit
            # conflict, IO error, rejected DDL) must not pin the cached
            # winner set in executor storage for the session lifetime —
            # retried foreachBatch failures would leak one per attempt
            try:
                w = winners.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max("cnt").alias("mx"),
                    F.sum(F.when(F.col("win_del"), 1).otherwise(0)).alias("deletes"),
                    F.collect_set("_wb").alias("buckets"),
                ).collect()[0]
                n_delta = w["n"]
                totals["max_key_rows"] = max(totals["max_key_rows"], w["mx"] or 0)
                totals["rows_valid"] += n_delta
                totals["distinct_keys"] = max(totals["distinct_keys"], n_delta)
                totals["rows_deletes"] += w["deletes"] or 0
                totals["rows_upserts"] += n_delta - (w["deletes"] or 0)
                affected = [int(b) for b in (w["buckets"] or [])]
                _mark("lww_and_stats")

                if rows_in > 0:
                    # pass 2: ONE routed scan writes quarantine candidates
                    # and the LWW delta together
                    keys = winners.select("doc_id", "lsn").withColumn(
                        "__win", F.lit(1)
                    )
                    if n_delta <= BROADCAST_MAX_KEY_ROWS:
                        keys = F.broadcast(keys)
                    routed = (
                        chunk.drop("schema_change")
                        .join(keys, on=["doc_id", "lsn"], how="left")
                        .withColumn(
                            "route",
                            F.when(expr_r.isNotNull(), F.lit("q")).when(
                                F.col("__win") == 1, F.lit("d")
                            ),
                        )
                        .filter(F.col("route").isNotNull())
                        .drop("__win")
                    )
                    routed.write.mode("overwrite").partitionBy("route").parquet(staging)
                    _mark("routed_write")

                    # quarantine finalize (async, small): authoritative
                    # reasons over the staged q-slice only
                    qsrc = os.path.join(staging, "route=q")
                    if os.path.isdir(qsrc):  # no invalid rows staged otherwise
                        q_future = self._pool.submit(
                            lambda qsrc=qsrc, ck=ck: self._finalize_quarantine(
                                self.spark.read.parquet(qsrc), batch_id, ck
                            )
                        )

                    # merge consumes the file-backed delta: no persist, no
                    # recompute races across the merge's three branches.
                    # Existence-gated (driver-local staging), NOT a bare
                    # except: an unexpected read failure must propagate —
                    # substituting an empty delta and then committing the
                    # watermark would permanently drop every valid row in
                    # the chunk with no retry possible.
                    ddir = os.path.join(staging, "route=d")
                    delta_bytes = None
                    if os.path.isdir(ddir):
                        delta = self.spark.read.parquet(ddir).select(*dedup_cols)
                        delta_bytes = LakeTable._dir_bytes(ddir)
                    else:
                        delta = self.spark.createDataFrame(
                            [],
                            T.StructType(
                                [f for f in EVENT_SCHEMA.fields if f.name in dedup_cols]
                            ),
                        )

                    # even an all-quarantined chunk advances the watermark
                    # (merge with an empty delta commits properties only)
                    watermark = max(applied, chunk_lsn_max or applied)
                    stage_future = None
                    if self._vocab is not None and n_delta > 0:
                        # outbox stage: the delta is computed against the
                        # pre-merge snapshot (CoW writes new files, MOR
                        # appends — the snapshot this read planned against is
                        # immutable) and runs CONCURRENTLY with the merge's
                        # compute; the merge's pre_commit hook joins it, so
                        # the outbox is durable strictly before the watermark
                        # advances — a crash on either side of the commit
                        # resolves exactly-once (see cdc/aggregates.py)
                        def _stage(
                            # the LSN-stable chunk key (ck), NOT the
                            # positional index: the outbox fold marker is
                            # a monotonic (batch, chunk) pair, and a
                            # partially-redelivered batch renumbers its
                            # surviving chunks to 0 — a positional key
                            # would compare <= the already-folded marker
                            # and silently drop the redelivered chunk's
                            # vocab delta
                            _b=batch_id, _c=ck, _d=delta, _a=affected,
                            _w=watermark, _n=n_delta, _db=delta_bytes
                        ):
                            t0 = time.time()
                            p = self._vocab.stage_delta(
                                _b, _c, _d, _a, _w, delta_rows=_n,
                                delta_bytes=_db,
                            )
                            self.timings["vocab_stage"] = (
                                self.timings.get("vocab_stage", 0.0) + time.time() - t0
                            )
                            return p

                        stage_future = self._pool.submit(_stage)
                    self._merge_chunk(
                        delta, n_delta, watermark, batch_id,
                        affected_buckets=affected, delta_bytes=delta_bytes,
                        pre_commit=(
                            stage_future.result if stage_future is not None else None
                        ),
                    )
                    _mark("merge")
                    applied = watermark
                    if stage_future is not None:
                        self._vocab.maybe_fold()
                        _mark("vocab_fold")

            except BaseException:
                # quiesce in-flight pool jobs before propagating: a
                # same-session foreachBatch retry would otherwise race a
                # still-running _finalize_quarantine / vocab stage against
                # its own re-run over the identical staging/tmp/qdir paths
                # (overwrite-under-reader, duelling renames). Their own
                # errors are secondary to the one propagating.
                for _fut in (q_future, stage_future):
                    if _fut is not None:
                        try:
                            _fut.result()
                        except Exception:
                            pass
                raise
            finally:
                winners.unpersist()
            if q_future is not None:
                qm = q_future.result()  # finalize ran in parallel
                for r in QUARANTINE_REASONS:
                    if qm[r]:
                        by_reason[r] = by_reason.get(r, 0) + qm[r]
                totals["rows_quarantined"] += qm["n"]
            shutil.rmtree(staging, ignore_errors=True)
            _mark("quarantine_join")

            if change is not None:
                # reject stream-wedging DDL BEFORE anything commits: a
                # rename onto a wire-reserved name would only explode at
                # the NEXT chunk's merge, with the watermark already past
                # the DDL and no way to re-filter it (conservative: all
                # wire names are reserved, though only the key is truly
                # load-bearing)
                _introduced = {
                    "rename_column": change.get("new_name"),
                    "add_column": change.get("name"),
                }.get(change.get("action"))
                if _introduced in WIRE_RESERVED:
                    # add_column is just as dangerous as rename: an added
                    # '_bucket' would be silently overwritten by
                    # _write_buckets' withColumn on every merge, 'route'
                    # by the routed staging write — corruption, not error
                    raise ValueError(
                        f"{change.get('action')} introducing wire-reserved "
                        f"name {_introduced!r} rejected (would collide "
                        "with the event wire format / bucket layout at "
                        "merge time)"
                    )
                # DDL + watermark advance in ONE commit: a crash between
                # two separate commits would redeliver the DDL event
                # (lsn > stale watermark) and apply_schema_change is not
                # idempotent — the retry errors forever, wedging the stream
                applied = max(applied, hi)
                self.table.apply_schema_change(
                    change,
                    lsn=hi,
                    properties_update={
                        "max_applied_lsn": applied,
                        "last_batch_id": batch_id,
                    },
                )


        metrics = BatchMetrics(
            batch_id=batch_id,
            chunks=len(bounds),
            rows_in=totals["rows_in"],
            rows_valid=totals["rows_valid"],
            rows_quarantined=totals["rows_quarantined"],
            quarantine_by_reason=by_reason,
            rows_upserts=totals["rows_upserts"],
            rows_deletes=totals["rows_deletes"],
            schema_changes=len(ddl),
            lsn_min=lsn_min,
            lsn_max=lsn_max,
            max_key_rows=totals["max_key_rows"],
            distinct_keys=totals["distinct_keys"],
            salted=salted_any,
            partitions=partitions,
            table_version=self.table.current_version(),
        )
        self._write_manifest(metrics)
        # merges/DDL already persisted properties; commit once more only if
        # this batch changed nothing else (e.g. fully-filtered replay)
        snap = self.table.snapshot()
        props = snap["properties"]
        lsn = max(applied, props.get("max_applied_lsn", 0))
        if props.get("last_batch_id") != batch_id or lsn > props.get("max_applied_lsn", 0):
            self.table._publish(
                snap, {}, properties_update={"last_batch_id": batch_id, "max_applied_lsn": lsn}
            )
        return metrics

    def _write_manifest(self, m: BatchMetrics) -> None:
        path = os.path.join(self.manifest_dir, f"batch-{m.batch_id:010d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m.to_json(), f, indent=1)
        os.replace(tmp, path)
