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
   quarantine is written idempotently per (batch, chunk) directory. Every
   side output of a commit settles in that commit's ``pre_commit``, so it
   is durable before the watermark moves: the quarantine chunk, and with
   ``maintain_vocab`` the next token vocabulary, a dir under the target's
   ``data/`` that the same commit references (cdc/aggregates.py). A
   crash leaves either a commit that references its outputs or outputs
   nothing references: ``_staging`` is disposable and an unreferenced
   vocab dir is garbage for ``LakeTable.expire_snapshots``.
4. **LWW dedup** — :func:`.dedup.lww_winners`, a primitive max per doc_id
   (map-side combine kills most skew); its salted two-phase form engages
   when a chunk exceeds ``salt_threshold`` rows.
5. **MERGE** — the winners, projected onto the table's columns, are
   upserted by the lake's recorded order column ``last_lsn`` (a row wins
   its key only with a greater LSN); a delete is a tombstone row that
   keeps ``last_lsn``, so lower-LSN stragglers can never resurrect it.
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
import logging
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.validation import validation_reason_expr, with_reason
from ..lake.table import BROADCAST_MAX_KEY_ROWS, LakeTable, TableSchema, bucket_expr
from .aggregates import VOCAB_PROPERTY, TokenVocab
from .dedup import lww_winners
from .events import EVENT_SCHEMA, SOURCE_WHITELIST

log = logging.getLogger(__name__)

QUARANTINE_REASONS = ["null_tokens", "empty_tokens", "bad_n_tok", "bad_source"]

# the wire columns the engine stages (routed route=d/route=q slices,
# quarantine chunks, the requeue rescue set): DDL rows never reach
# staging. Staged files are written through staged() and read with this
# schema, so planning a staged read infers nothing.
STAGED_SCHEMA = T.StructType([f for f in EVENT_SCHEMA.fields if f.name != "schema_change"])


def staged(df: DataFrame, *keep: str) -> DataFrame:
    """``df``'s wire columns laid out as :data:`STAGED_SCHEMA`: in its
    order, cast to its types (events or a snapshot may carry wider ones,
    e.g. ``n_tok bigint``), a column ``df`` lacks (a bootstrap snapshot
    has no ``ts``) null; then the ``keep`` columns as they are. Other
    columns of ``df`` are dropped."""
    have = set(df.columns)
    return df.select(
        *[
            (F.col(f.name) if f.name in have else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in STAGED_SCHEMA.fields
        ],
        *keep,
    )

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
        # old-side read + two explode passes per chunk. A table records
        # the setting it was created with, and the write path refuses an
        # engine whose setting disagrees.
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
            self._vocab = TokenVocab(spark, self.table, FID_TOKENS)
        # one pool per engine: quarantine writes + lineage scans run as
        # concurrent Spark jobs overlapping the LWW/merge critical path
        self._pool = ThreadPoolExecutor(max_workers=4)
        # cumulative per-phase wall seconds across all applied batches
        # (lineage_join / lww_and_stats / routed_write / merge /
        # quarantine_join) — the bench exports these so a round-over-round
        # regression can be localized to a phase instead of guessed at
        self.timings: dict[str, float] = {}

    # ---------- lifecycle ----------

    def init(self) -> None:
        if not self.table.exists():
            props = {"max_applied_lsn": 0, "last_batch_id": -1}
            if self._vocab is not None:
                props[VOCAB_PROPERTY] = None  # the record; no vocab dir yet
            LakeTable.create(
                self.spark,
                self.table.path,
                TARGET_COLUMNS,
                key_column="doc_id",
                n_buckets=self.n_buckets,
                properties=props,
                order_column="last_lsn",
                tombstone_column="deleted",
            )
        os.makedirs(self.manifest_dir, exist_ok=True)
        self._recover_archive_swap()
        # staging is disposable: every side output settles before its
        # commit (_settle in pre_commit), so whatever a crashed run left
        # here belongs to a commit that either happened (its outputs are
        # already in place) or never did (redelivery, or a re-run
        # requeue, derives them again). Safe here: ingest is
        # single-writer and this engine has not started its own staging.
        shutil.rmtree(os.path.join(self.table_path, "_staging"), ignore_errors=True)

    def applied_lsn(self) -> int:
        return int(self.table.properties().get("max_applied_lsn", 0))

    def _check_table(self, snap: dict) -> None:
        """Refuse to write to a target whose record disagrees with this
        engine. Its recorded ``order_column`` must be the ``FID_LSN``
        column: the merge guards LSNs through it, and a target without one
        would merge as a plain upsert where stale and out-of-order events
        win. Its ``tombstone_column`` must be the ``FID_DELETED`` column,
        through which readers and the vocab see deletes. And
        ``maintain_vocab`` must match its ``vocab`` property (carried from
        creation): a vocab-blind commit changes tokens the vocab never
        sees, and a vocab engine on a table that never kept one would
        count only from here on. Every such desync is permanent, so
        nothing may commit."""
        by_id = TableSchema.from_json(snap["schema"]).by_id()
        for role, fid in (("order_column", FID_LSN), ("tombstone_column", FID_DELETED)):
            if snap.get(role) != by_id[fid].name:
                raise ValueError(
                    f"this table records {role.replace('_', ' ')} "
                    f"{snap.get(role)!r}, not {by_id[fid].name!r}; create the "
                    "target through CdcEngine.init"
                )
        recorded = VOCAB_PROPERTY in snap["properties"]
        if recorded != (self._vocab is not None):
            raise ValueError(
                "this table maintains a token-vocabulary aggregate; construct "
                "CdcEngine(maintain_vocab=True) to write to it"
                if recorded
                else "this table keeps no token-vocabulary aggregate; construct "
                "CdcEngine(maintain_vocab=False) to write to it"
            )

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

    @staticmethod
    def _settle(*futures, quiet: bool = False) -> None:
        """Join every non-None pool job in ``futures``, then re-raise the
        first job error unless ``quiet``. A commit passes this as its
        ``pre_commit``, so its side outputs are durable before it and a
        failed one aborts it; error paths pass ``quiet=True`` to quiesce
        the pool before propagating the error that came first (a retry
        would otherwise race a still-running job over the same paths)."""
        err = None
        for f in futures:
            if f is not None:
                try:
                    f.result()
                except Exception as e:
                    err = err or e
        if err is not None and not quiet:
            raise err

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
        - Exactly-once: the quarantine (stage-then-renamed, idempotent on
          re-run) and the vocab (if enabled) both settle in the
          overwrite's ``pre_commit``, and the data, the vocab reference
          and the ``max_applied_lsn=as_of_lsn`` watermark land in ONE
          commit. A crash anywhere before that commit leaves the table
          fresh — re-running bootstrap is safe;
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
        snap = self.table.snapshot()
        self._check_table(snap)
        props = snap["properties"]
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
        # narrow integrity agg: doc_id/lsn only, map-side combined
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
            self._settle(lineage_future, quiet=True)
            raise

        expr_r = validation_reason_expr(
            F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"),
            self.whitelist,
        )
        valid = snap_wire.filter(expr_r.isNull())
        invalid = snap_wire.filter(expr_r.isNotNull())

        ck = as_of_lsn  # the chunk key: the snapshot's one "chunk"
        # the quarantine finalize and the vocab stage overlap the
        # overwrite; its pre_commit settles both
        q_future = self._pool.submit(self._finalize_quarantine, invalid, batch_id, ck)
        stage_future = None
        new_props = {"max_applied_lsn": as_of_lsn, "last_batch_id": batch_id}
        try:
            if self._vocab is not None:
                new_props[VOCAB_PROPERTY] = self._vocab.next_dir(snap)
                stage_future = self._pool.submit(
                    self._vocab.stage_delta,
                    valid.select("doc_id", "lsn", "op", "tokens"),
                    snap,
                    new_props[VOCAB_PROPERTY],
                )
            self.table.overwrite(
                self._to_table(valid, snap),
                expected_version=snap["version"],
                properties_update=new_props,
                pre_commit=lambda: self._settle(q_future, stage_future),
            )
        except BaseException:
            self._settle(lineage_future, q_future, stage_future, quiet=True)
            raise

        qm = q_future.result()
        rows_q = qm["n"]
        by_reason = {r: qm[r] for r in QUARANTINE_REASONS if qm[r]}
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

    # ---------- field-id binding ----------

    def _names(self) -> dict[int, str]:
        return {c.id: c.name for c in self.table.schema().columns}

    @staticmethod
    def _to_table(wire: DataFrame, snap: dict) -> DataFrame:
        """The wire events ``wire`` as rows of ``snap``'s table, each
        column bound to its wire field by field id, in table order: a
        delete is a tombstone that keeps its LSN and carries no payload."""
        is_del = F.col("op") == "delete"
        fields = {
            FID_DOC: F.col("doc_id"),
            FID_TOKENS: F.when(is_del, F.lit(None)).otherwise(F.col("tokens")),
            FID_NTOK: F.when(is_del, F.lit(None)).otherwise(F.col("n_tok")),
            FID_SOURCE: F.when(is_del, F.lit(None)).otherwise(F.col("source")),
            FID_LSN: F.col("lsn"),
            FID_DELETED: is_del,
        }
        cols = TableSchema.from_json(snap["schema"]).columns
        return wire.select(*[fields[c.id].alias(c.name) for c in cols if c.id in fields])

    # ---------- state readers ----------

    def state(self, include_deleted: bool = False) -> DataFrame:
        snap = self.table.snapshot()
        df = self.table.read(as_of_version=snap["version"])
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(snap["tombstone_column"]), F.lit(False)))
        return df

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two target-table snapshots
        (see :meth:`LakeTable.changes`): the engine emits a changelog a
        downstream CDC consumer could itself tail."""
        return self.table.changes(v_from, v_to)

    def _quarantine_schema(self) -> T.StructType:
        # Format note: round 3 changed 'chunk' from a positional int32 to
        # the chunk's max data LSN as int64 (stable across partial-batch
        # redelivery). A quarantine tree/archive written by the earlier
        # layout would need a one-off rewrite (read with the old schema,
        # rewrite); no such deployments exist — the format is
        # sandbox-internal and versioned with the repo.
        return (
            T.StructType(list(STAGED_SCHEMA.fields))  # add() appends in place
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
        a redelivered chunk replaces it with identical content. Callers
        settle this before the chunk's commit, so a crash before the
        rename leaves only disposable staging, swept by ``init()``; the
        uncommitted chunk is redelivered and finalized again. A chunk
        with no rows keeps whatever dir it already has. Spark's
        ``_SUCCESS`` marker rides the rename into the chunk dir.

        Returns ``{"n": rows, <reason>: rows, ...}``.
        """
        obs = Observation(f"quar-{batch_id}-{ck}")
        reasoned = with_reason(staged(rows), self.whitelist).observe(
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
        discovery cost, small files). Every chunk dir is safe to archive:
        a chunk's quarantine settles before its commit, so a dir either
        belongs to a committed chunk (a redelivery is LSN-filtered before
        the quarantine path runs, so nothing rewrites it again) or to a
        chunk whose commit failed, whose redelivery writes the same rows
        under the same LSNs into a new dir — which the ``lsn`` anti-join
        below and in ``quarantine()`` keeps exactly-once.

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
        now-valid ones through the stream's own chunk pipeline
        (:meth:`_apply_chunk`: LWW, routed write, vocab stage, merge) —
        the dead-letter replay every production CDC pipeline eventually
        needs.

        The rescue set is every quarantined event the whitelist admits
        with an LSN at or below the watermark and at or above the
        tombstone-expiry fence. It is applied as one chunk at the
        current watermark, so the watermark never moves; such a chunk
        merges copy-on-write (:meth:`_advances`). Correctness comes from
        the merge's monotone-LSN guard: a rescued event whose doc has
        since received a newer event loses the LWW compare and changes
        nothing; otherwise it applies exactly as it would have
        originally.

        Events above the watermark are never rescued: they belong to a
        chunk whose quarantine settled but whose commit failed, and its
        redelivery quarantines them again. Events below the table's
        ``tombstones_expired_below`` fence (recorded by every
        :meth:`LakeTable.compact` that expires tombstones) are never
        rescued either: the tombstones that would veto them are gone, so
        applying them could resurrect deleted docs — they stay
        quarantined instead.

        Exactly-once across crashes, in commit order:
        1. the chunk's merge commits data (+ unchanged watermark
           properties) and, with ``maintain_vocab``, the vocab its
           ``pre_commit`` settled;
        2. rescued rows are dropped from quarantine via
           compact-then-filtered-archive-swap. A crash before (2) leaves
           them quarantined but already applied — a re-run re-rescues
           them and every merge no-ops on the LSN guard, then completes
           the cleanup. The archive swap itself is crash-recovered by
           ``init()`` (``quarantine_archive.old``).

        Ops contract: run with the ingester stopped (like ``rebucket``) —
        the archive swap assumes this process is the single writer. A
        table whose vocab aggregate is maintained must requeue through a
        vocab-aware engine (:meth:`_apply_chunk` refuses any other).

        Returns {"examined", "count_drift", "rescued", "merged"} counts
        (``merged`` = the LWW winners of the rescue set; count_drift is 0
        under the single-writer contract; nonzero flags a concurrent
        writer racing the archive swap).
        """
        self._recover_archive_swap()
        wl = list(whitelist) if whitelist is not None else list(self.whitelist)
        q = self.quarantine()
        snap = self.table.snapshot()
        props = snap["properties"]
        applied = int(props.get("max_applied_lsn", 0))
        # tombstone-expiry fence: expiry physically dropped tombstones
        # below this LSN, so a rescue below it could resurrect a deleted
        # doc (the information needed to refuse it is gone). Such events
        # stay quarantined.
        fence = int(snap.get("tombstones_expired_below", 0))
        expr_r = validation_reason_expr(
            F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"), wl
        )
        # materialize the rescued set FIRST: the chunk pipeline and the
        # cleanup anti-join read this file-backed frame, because the
        # source quarantine paths are mutated by the cleanup below and a
        # lazy plan over them would recompute against moved files
        rescued_stage = os.path.join(self.table_path, "_staging", "requeue_rescued")
        obs_q = Observation("requeue-examined")
        obs_r = Observation("requeue-rescued")
        # examined is observed BELOW the rescue filter in the same plan —
        # one quarantine scan produces both counts (CollectMetrics blocks
        # predicate pushdown, so the filter cannot shrink what obs_q sees)
        staged(
            q.observe(obs_q, F.count(F.lit(1)).alias("n")).filter(
                expr_r.isNull()
                & (F.col("lsn") >= F.lit(fence))
                & (F.col("lsn") <= F.lit(applied))
            )
        ).observe(obs_r, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(rescued_stage)
        examined = int(obs_q.get.get("n") or 0)
        rescued_n = int(obs_r.get.get("n") or 0)
        if rescued_n == 0:
            shutil.rmtree(rescued_stage, ignore_errors=True)
            return {"examined": examined, "rescued": 0, "merged": 0}
        rescued = self.spark.read.schema(STAGED_SCHEMA).parquet(rescued_stage)
        # one chunk at the unchanged watermark; every row passes `wl`, so
        # the routed write stages no route=q slice and no quarantine dir
        # is touched
        merged = self._apply_chunk(
            rescued, rescued_n, applied, int(props.get("last_batch_id", -1)), 0, wl
        )["winners"]

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
            log.warning(
                "requeue count drift %+d (kept=%d rescued=%d examined=%d) — "
                "concurrent writer during a documented single-writer op?",
                drift, kept, rescued_n, examined,
            )
        return {
            "examined": examined,
            "count_drift": drift,
            "rescued": rescued_n,
            "merged": merged,
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
        snap: dict,
        affected_buckets: list[int] | None = None,
        delta_bytes: int | None = None,
        pre_commit=None,
        vocab: str | None = None,
    ) -> None:
        """Merge the wire-column winners ``delta`` in one commit that
        also sets the watermark and, when given, points the table's
        ``vocab`` property at the dir ``pre_commit`` settles. ``snap`` is
        the snapshot the chunk was planned against (:meth:`_to_table`)."""
        props = {"max_applied_lsn": watermark, "last_batch_id": batch_id}
        if vocab is not None:
            props[VOCAB_PROPERTY] = vocab
        self.table.merge(
            self._to_table(delta, snap),
            properties_update=props,
            delta_rows=delta_rows,
            affected_buckets=affected_buckets,
            delta_bytes=delta_bytes,
            # a chunk at or below the watermark merges copy-on-write, where
            # every row meets the stored last_lsn (see _advances)
            mode="auto" if self._advances(snap, watermark) else "cow",
            pre_commit=pre_commit,
            # vocab maintenance re-reads the affected buckets' old rows
            # EVERY batch (stage_delta's pre-merge snapshot scan), so read
            # amplification grows with MOR stack depth — fold around depth
            # 3 instead of 8 (the cycle-cost minimum; see merge docstring
            # and BENCH_DETAIL.json vocab_maintenance)
            max_stack=3 if self._vocab is not None else None,
        )

    # ---------- apply one micro-batch ----------

    @staticmethod
    def _lineage(events: DataFrame) -> list:
        """Per-partition lineage ``(pid, rows, lsn_min, lsn_max)`` of the
        data events, plus the partition's count of DDL events (``ddl``),
        in one narrow aggregate (no arrays)."""
        is_ddl = F.col("op") == "schema_change"
        lsn = F.when(~is_ddl, F.col("lsn"))
        return (
            events.groupBy(F.spark_partition_id().alias("pid"))
            .agg(
                F.count(lsn).alias("rows"),
                F.min(lsn).alias("lsn_min"),
                F.max(lsn).alias("lsn_max"),
                F.count(F.when(is_ddl, 1)).alias("ddl"),
            )
            .collect()
        )

    @staticmethod
    def _advances(snap: dict, watermark: int) -> bool:
        """Does a chunk committed at ``watermark`` advance ``snap``'s
        watermark? A stream chunk does (its events are filtered above
        the watermark); a requeue rescue (every LSN at or below it) does
        not. Merge-on-read resolves a key to its newest delta row (checked
        against the base row only), the LWW winner only while every delta
        LSN is above those of earlier stacked deltas, so a chunk that does
        not advance merges copy-on-write."""
        return watermark > int(snap["properties"].get("max_applied_lsn", 0))

    def _lap(self, label: str, t0: float) -> float:
        """Add the wall seconds since ``t0`` to ``timings[label]``; return now."""
        now = time.time()
        self.timings[label] = self.timings.get(label, 0.0) + now - t0
        return now

    def _apply_chunk(
        self,
        chunk: DataFrame,
        rows_in: int,
        watermark: int,
        batch_id: int,
        ck: int,
        whitelist: list[str],
    ) -> dict:
        """The one write path: apply ``chunk`` (``rows_in`` wire events,
        DDL-free) in one commit that sets ``max_applied_lsn=watermark``.
        The stream passes the chunk's max LSN; a requeue passes the
        unchanged watermark (see :meth:`_advances` for what that
        changes). Raises ``ValueError`` before any work when the table's
        record disagrees with the engine (:meth:`_check_table`).

        The chunk's token arrays are decoded in exactly TWO full passes;
        everything else rides those jobs or touches only small staged
        outputs:

        - pass 1 LWW: narrow (doc_id → max lsn, cnt, winner-op) agg over
          the rows valid under ``whitelist`` (validity needs
          size(tokens), so arrays decode once); one collect returns delta
          size, skew stats, delete count and the affected-bucket set.
        - pass 2 routed write: ONE scan left-joins the broadcast winner
          keys and writes partitionBy(route): invalid → route=q, valid
          winner → route=d, valid loser dropped. Its Observation counts
          each route; only when an event was delivered twice within the
          chunk (more route=d rows than winners, or more route=q rows
          than distinct LSNs there) is that slice's read deduplicated, so
          the merge takes one row per key and the quarantine one per
          event, as the oracle does.
        - async quarantine finalize: the small route=q slice through
          :meth:`_finalize_quarantine` into ``(batch_id, ck)``.
        - sync merge: reads the file-backed route=d delta (no persist, no
          recompute races) into the bucket-pruned MERGE. Its pre_commit
          settles the finalize and the vocab stage, so both side outputs
          are durable before the commit (which references the new vocab
          dir) and a failed one aborts it; the chunk's staging dir is
          garbage after either.

        ``ck`` keys the chunk's staging and quarantine dirs: the
        stream passes the chunk's max data LSN, stable across partial
        redelivery (a positional index renumbers when earlier chunks are
        already past the watermark, and would replace another chunk's
        outputs). Writes no manifest. Returns ``{"winners",
        "max_key_rows", "deletes", "salted", "quarantine"}`` (the
        finalize's counts, or None when no row was invalid).
        """
        t = time.time()
        expr_r = validation_reason_expr(
            F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"), whitelist
        )
        snap = self.table.snapshot()
        self._check_table(snap)
        staging = os.path.join(self.table_path, "_staging", f"b{batch_id}_c{ck}")
        salted = rows_in >= self.salt_threshold
        winners = lww_winners(chunk.filter(expr_r.isNull()), salted=salted).withColumn(
            "_wb", bucket_expr(F.col("doc_id"), snap["n_buckets"])
        ).persist()
        q_future = None
        stage_future = None
        vocab_dir = None
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
            affected = [int(b) for b in (w["buckets"] or [])]
            t = self._lap("lww_and_stats", t)

            keys = winners.select("doc_id", "lsn").withColumn("__win", F.lit(1))
            if n_delta <= BROADCAST_MAX_KEY_ROWS:
                keys = F.broadcast(keys)
            routed = (
                chunk.join(keys, on=["doc_id", "lsn"], how="left")
                .withColumn(
                    "route",
                    F.when(expr_r.isNotNull(), F.lit("q")).when(
                        F.col("__win") == 1, F.lit("d")
                    ),
                )
                .filter(F.col("route").isNotNull())
            )
            # the write's own counts tell whether an event delivered twice
            # was staged twice (the LSN set is the small route=q slice's)
            route = F.col("route")
            obs = Observation(f"route-{batch_id}-{ck}")
            staged(routed, "route").observe(
                obs,
                F.count(F.when(route == "d", 1)).alias("d"),
                F.count(F.when(route == "q", 1)).alias("q"),
                F.size(F.collect_set(F.when(route == "q", F.col("lsn")))).alias("q_lsns"),
            ).write.mode("overwrite").partitionBy("route").parquet(staging)
            staged_n = obs.get
            t = self._lap("routed_write", t)

            qsrc = os.path.join(staging, "route=q")
            if os.path.isdir(qsrc):  # no invalid rows staged otherwise
                rows = self.spark.read.schema(STAGED_SCHEMA).parquet(qsrc)
                if staged_n["q"] > staged_n["q_lsns"]:  # an event staged twice
                    rows = rows.dropDuplicates(["lsn"])
                q_future = self._pool.submit(self._finalize_quarantine, rows, batch_id, ck)

            # Existence-gated (driver-local staging), NOT a bare except:
            # an unexpected read failure must propagate — substituting an
            # empty delta and then committing the watermark would
            # permanently drop every valid row in the chunk with no retry
            # possible. An all-quarantined chunk still commits (properties
            # only), so the watermark advances past it.
            ddir = os.path.join(staging, "route=d")
            delta_bytes = None
            if os.path.isdir(ddir):
                delta = self.spark.read.schema(STAGED_SCHEMA).parquet(ddir)
                if staged_n["d"] > n_delta:  # an event staged twice
                    delta = delta.dropDuplicates(["doc_id"])
                delta_bytes = LakeTable._dir_bytes(ddir)
            else:
                delta = self.spark.createDataFrame([], STAGED_SCHEMA)

            if self._vocab is not None and n_delta > 0:
                # the next vocab, planned against `snap` (CoW writes new
                # files, MOR appends — the snapshot is immutable),
                # concurrent with the merge's compute and settled by its
                # pre_commit; the merge's commit references it, so a
                # crash on either side of the commit leaves nothing to
                # recover (see cdc/aggregates.py)
                vocab_dir = self._vocab.next_dir(snap)

                def _stage():
                    t0 = time.time()
                    self._vocab.stage_delta(
                        delta, snap, vocab_dir, affected,
                        delta_rows=n_delta, delta_bytes=delta_bytes,
                    )
                    self._lap("vocab_stage", t0)

                stage_future = self._pool.submit(_stage)
            self._merge_chunk(
                delta, n_delta, watermark, batch_id, snap,
                affected_buckets=affected, delta_bytes=delta_bytes,
                pre_commit=lambda: self._settle(q_future, stage_future),
                vocab=vocab_dir,
            )
            t = self._lap("merge", t)
        except BaseException:
            self._settle(q_future, stage_future, quiet=True)
            raise
        finally:
            winners.unpersist()
        qm = q_future.result() if q_future is not None else None  # settled
        shutil.rmtree(staging, ignore_errors=True)
        self._lap("quarantine_join", t)
        return {
            "winners": n_delta,
            "max_key_rows": w["mx"] or 0,
            "deletes": w["deletes"] or 0,
            "salted": salted,
            "quarantine": qm,
        }

    def apply_batch(self, events: DataFrame, batch_id: int) -> BatchMetrics:
        t = time.time()
        applied = self.applied_lsn()
        events = events.filter(F.col("lsn") > F.lit(applied))

        # one probe aggregate: per-partition lineage of the data rows and
        # the count of DDL rows; the DDL rows themselves (rare, tiny) are
        # collected only when there are some. A batch without DDL is one
        # chunk whose lineage IS the probe's.
        is_ddl = F.col("op") == "schema_change"
        probe = self._lineage(events)
        ddl = []
        if any(r["ddl"] for r in probe):
            ddl = sorted(
                (
                    (r["lsn"], json.loads(r["schema_change"]))
                    for r in events.filter(is_ddl).select("lsn", "schema_change").collect()
                ),
                key=lambda x: x[0],
            )
        data = events.filter(~is_ddl)
        self._lap("lineage_join", t)

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
            t = time.time()
            chunk = data
            if lo is not None:
                chunk = chunk.filter(F.col("lsn") > F.lit(lo))
            if hi is not None:
                chunk = chunk.filter(F.col("lsn") < F.lit(hi))
            # lineage: the batch probe's when the batch has no DDL, else a
            # narrow columnar scan (no arrays) of this chunk
            cells = self._lineage(chunk) if ddl else probe
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
            self._lap("lineage_join", t)

            if rows_in > 0:
                applied = max(applied, chunk_lsn_max)
                c = self._apply_chunk(
                    chunk, rows_in, applied, batch_id, chunk_lsn_max, self.whitelist
                )
                totals["max_key_rows"] = max(totals["max_key_rows"], c["max_key_rows"])
                totals["rows_valid"] += c["winners"]
                totals["distinct_keys"] = max(totals["distinct_keys"], c["winners"])
                totals["rows_deletes"] += c["deletes"]
                totals["rows_upserts"] += c["winners"] - c["deletes"]
                salted_any |= c["salted"]
                qm = c["quarantine"]
                if qm is not None:
                    for r in QUARANTINE_REASONS:
                        if qm[r]:
                            by_reason[r] = by_reason.get(r, 0) + qm[r]
                    totals["rows_quarantined"] += qm["n"]

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
