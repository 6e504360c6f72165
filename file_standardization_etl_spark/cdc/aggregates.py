"""Incrementally-maintained derived aggregates over the CDC target table.

``TokenVocab`` is incremental view maintenance (IVM) of the corpus-wide
token-frequency view

    SELECT token, count(*) AS n_occ, count(DISTINCT doc) AS n_docs
    FROM state LATERAL VIEW explode(tokens) AS token

kept transactionally consistent with the target table under crash/resume.
A full recompute scans every token array in the table — O(corpus) per
refresh, the thing you cannot afford at 10^10 events. The maintained
version costs O(delta) per micro-batch: the chunk's count delta is

    + tokens of each LWW winner that actually replaces state
    - tokens of each row it replaces (read from the PRE-merge snapshot,
      bucket-pruned to the chunk's affected buckets)

with the same take-new condition as the merge resolver (``new.lsn >
old.last_lsn``), so the aggregate can never drift from the table even
under out-of-order or duplicate delivery.

Exactly-once across crashes — transactional outbox: the delta is staged
to a durable pending dir BEFORE the chunk's target merge commits and
folded into the vocab lake table AFTER. Recovery compares each pending
dir's recorded watermark with the target's committed watermark:

    folded marker already covers it  -> drop (fold committed, delete died)
    target watermark >= its watermark -> fold (merge committed, fold died)
    target watermark <  its watermark -> drop (merge never committed; the
                                        chunk will be redelivered and the
                                        delta re-staged bit-identically)

The vocab table itself is a LakeTable keyed by token with an accumulating
resolver (``old.n_occ + delta``) — per the :meth:`LakeTable.merge`
contract an accumulating resolver requires copy-on-write mode, which is
what ``fold`` uses; the table is vocabulary-sized, so CoW rewrites stay
trivially cheap even when the target table is petabytes.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import BROADCAST_MAX_KEY_ROWS, LakeTable

VOCAB_COLUMNS = [("token", "bigint"), ("n_occ", "bigint"), ("n_docs", "bigint")]
# a staged pending delta's columns: stage_delta writes its counts cast to
# them and fold reads the files with PENDING_SCHEMA, so planning the fold
# infers nothing
PENDING_COLUMNS = [("token", "bigint"), ("d_occ", "bigint"), ("d_docs", "bigint")]
PENDING_SCHEMA = ", ".join(f"{n} {t}" for n, t in PENDING_COLUMNS)


class TokenVocab:
    """Binds the pending-delta outbox + vocab LakeTable for one engine."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        target: LakeTable,
        fids: tuple[int, int, int, int],
        n_buckets: int = 8,
    ):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.target = target
        # target-table field ids for (key, tokens, last_lsn, deleted) —
        # id-based so a rename_column mid-stream never breaks the old-side
        # read, same binding rule as the merge resolver
        self._fid_doc, self._fid_tokens, self._fid_lsn, self._fid_deleted = fids
        self.n_buckets = n_buckets
        self.table = LakeTable(spark, os.path.join(self.root, "vocab"))
        self.pending_dir = os.path.join(self.root, "vocab_pending")

    # ---------- lifecycle ----------

    def init(self) -> None:
        if not self.table.exists():
            LakeTable.create(
                self.spark,
                self.table.path,
                VOCAB_COLUMNS,
                key_column="token",
                n_buckets=self.n_buckets,
                properties={"folded_batch": -1, "folded_chunk": -1},
            )
        os.makedirs(self.pending_dir, exist_ok=True)
        self.recover()

    def _marker(self) -> tuple[int, int]:
        p = self.table.properties()
        return (int(p.get("folded_batch", -1)), int(p.get("folded_chunk", -1)))

    def _pending(self) -> list[tuple[str, dict | None]]:
        out = []
        for name in sorted(os.listdir(self.pending_dir)):
            pend = os.path.join(self.pending_dir, name)
            meta_path = os.path.join(pend, "meta.json")
            meta = None
            if os.path.isfile(meta_path):
                with open(meta_path) as f:
                    meta = json.load(f)
            out.append((pend, meta))
        return out

    @staticmethod
    def _merge_committed(meta: dict, applied: int, version: int) -> bool:
        """Did the target merge this pending delta was staged for commit?
        (``applied``/``version`` are read once per fold/recover pass,
        not per pending — a backlog would otherwise re-parse the target
        snapshot JSON N times.)

        Stream chunks advance the watermark, so ``meta['watermark'] <=
        applied`` decides. A quarantine-requeue merge CANNOT advance the
        watermark (its LSNs are all at or below it), so its pending meta
        instead carries ``requires_version`` — the target version its
        merge will create (current+1, sound under the engine's
        single-writer contract) — and commit is decided by version.

        The version gate also relies on the lifecycle contract that
        ``recover()`` runs at engine init, BEFORE any new commit: a
        pending whose requeue merge crashed pre-commit is discarded
        while current_version is still below requires_version. If an
        unrelated later commit could take that version first, the
        phantom delta would fold — init-before-commit is what rules
        that out."""
        rv = meta.get("requires_version")
        if rv is not None:
            return version >= int(rv)
        return int(meta["watermark"]) <= applied

    def _already_folded(self, meta: dict) -> bool:
        """Fold-committed-but-delete-died detection, per pending type.

        Requeue pendings track their OWN monotone marker
        (``folded_requeue_version``): their synthetic chunk ids must not
        enter the stream (batch, chunk) order — a requeue folding at
        (B, huge) would otherwise advance the stream marker past a
        redelivered batch-B chunk whose lsn-keyed id is smaller, and
        that chunk's delta would be dropped unfolded (silent drift)."""
        rv = meta.get("requires_version")
        if rv is not None:
            p = self.table.properties()
            return int(rv) <= int(p.get("folded_requeue_version", -1))
        return (int(meta["batch_id"]), int(meta["chunk"])) <= self._marker()

    def fold_ready(self) -> None:
        """Fold, in staging order, every pending delta whose target merge
        has committed (:meth:`_merge_committed`); :meth:`fold` drops one
        whose fold already committed. Pendings beyond the watermark are
        left in place — mid-run that just means their merge hasn't
        happened yet."""
        applied = int(self.target.properties().get("max_applied_lsn", 0))
        version = self.target.current_version()
        for pend, meta in self._pending():
            if meta is not None and self._merge_committed(meta, applied, version):
                self.fold(pend)

    def maybe_fold(self) -> None:
        """Post-merge hook: fold whatever the outbox holds."""
        if any(meta is not None for _, meta in self._pending()):
            self.fold_ready()

    def recover(self) -> None:
        """Apply or discard pending deltas left by a crash (see module
        docstring for the three-way decision)."""
        self.fold_ready()
        # what is left crashed mid-stage (meta is written last) or staged
        # for a merge that never committed: the chunk will be redelivered
        # and its delta re-staged bit-identically
        for pend, _ in self._pending():
            shutil.rmtree(pend, ignore_errors=True)

    # ---------- per-chunk maintenance ----------

    # above this many winner rows the old-side KEY join stops broadcasting
    # — the engine-wide key-frame gate, shared with the hot path's routed
    # join so retuning happens in exactly one place (lake/table.py)
    BROADCAST_MAX_ROWS = BROADCAST_MAX_KEY_ROWS
    # the `old` frame carries TOKEN ARRAYS, so a row-count gate alone can
    # green-light a broadcast past Spark's 8 GB hard limit (4M rows x
    # ~512-token docs ~ 16 GB); it shares the lake's MOR byte rule
    # (estimated from delta_bytes when the caller staged the delta, else
    # rows x 512 B — the same heuristic LakeTable.merge uses)
    BROADCAST_MAX_BYTES = LakeTable.MOR_BROADCAST_MAX_BYTES

    def stage_delta(
        self,
        batch_id: int,
        chunk: int,
        delta: DataFrame,
        affected_buckets: list[int],
        watermark: int,
        base_empty: bool = False,
        requires_version: int | None = None,
        delta_rows: int | None = None,
        delta_bytes: int | None = None,
    ) -> str | None:
        """Compute the signed (token, d_occ, d_docs) delta for one chunk
        against the PRE-merge snapshot and stage it durably. Must run
        before the chunk's target merge; returns the pending dir.

        ``delta`` is the LWW-deduped winner set (wire column names, one
        row per doc_id). Plan shape: the old side is a bucket-pruned,
        column-pruned snapshot read inner-joined to the broadcast winner
        keys — delta-sized from the first join on; the explodes and count
        aggregation therefore touch O(delta) token arrays, never the
        table.

        ``base_empty=True`` (snapshot bootstrap) skips the old side
        entirely: the delta there is snapshot-sized, so the unconditional
        ``F.broadcast(delta)`` below — fine at micro-batch scale — would
        ship the whole corpus key set to every executor. With an empty
        base the minus side is vacuously empty and no join is needed.
        """
        if base_empty:
            j = delta.select("doc_id", "lsn", "op", "tokens").select(
                "*",
                F.lit(None).cast("long").alias("__old_lsn"),
                F.lit(None).cast("boolean").alias("__old_del"),
                F.lit(None).cast("array<bigint>").alias("__old_toks"),
            )
        else:
            names = {c.id: c.name for c in self.target.schema().columns}
            key = names[self._fid_doc]
            # unknown size is NOT small: with no row or byte hint the
            # token-array-carrying `old` frame must take the shuffled
            # path — defaulting est_bytes to 0 here would broadcast it
            # unconditionally, the exact failure the gate exists to stop
            small = delta_rows is not None and delta_rows <= self.BROADCAST_MAX_ROWS
            est_bytes = (
                delta_bytes
                if delta_bytes is not None
                else (delta_rows * 512 if delta_rows is not None else None)
            )
            small_old = (
                small and est_bytes is not None
                and est_bytes <= self.BROADCAST_MAX_BYTES
            )
            keys = delta.select("doc_id")
            old = (
                self.target.read(buckets=affected_buckets)
                .select(
                    F.col(key).alias("doc_id"),
                    F.col(names[self._fid_lsn]).alias("__old_lsn"),
                    F.coalesce(F.col(names[self._fid_deleted]), F.lit(False)).alias(
                        "__old_del"
                    ),
                    F.col(names[self._fid_tokens]).alias("__old_toks"),
                )
                .join(F.broadcast(keys) if small else keys, "doc_id")
            )
            j = delta.select("doc_id", "lsn", "op", "tokens").join(
                # `old` carries delta-sized TOKEN ARRAYS — broadcastable at
                # micro-batch scale, shuffled past BROADCAST_MAX_BYTES
                # (byte-gated, not row-gated: the arrays dominate)
                F.broadcast(old) if small_old else old,
                "doc_id",
                "left",
            )
        take = F.col("__old_lsn").isNull() | (F.col("lsn") > F.col("__old_lsn"))
        empty = F.array().cast("array<bigint>")
        plus_arr = F.when(
            take & (F.col("op") != "delete"),
            F.col("tokens").cast("array<bigint>"),
        ).otherwise(empty)
        minus_arr = F.when(
            take & ~F.coalesce(F.col("__old_del"), F.lit(True)),
            F.coalesce(F.col("__old_toks").cast("array<bigint>"), empty),
        ).otherwise(empty)
        # ONE pass over the join and ONE shuffle total. Occurrence deltas
        # are (token, ±1) over raw arrays; doc-frequency deltas are
        # (token, ±1) over the ROW-LOCAL array_distinct of each side —
        # per-(doc,token) presence never needs a (doc_id, token) shuffle,
        # which was the old plan's widest exchange (delta-docs × distinct
        # tokens rows). Here the only exchange is token-keyed and
        # map-side-combined, so shuffle rows = distinct tokens per
        # partition regardless of delta size.
        signed = j.select(
            F.explode(
                F.concat(
                    F.transform(
                        plus_arr,
                        lambda x: F.struct(
                            x.alias("t"), F.lit(1).alias("o"), F.lit(0).alias("d")
                        ),
                    ),
                    F.transform(
                        minus_arr,
                        lambda x: F.struct(
                            x.alias("t"), F.lit(-1).alias("o"), F.lit(0).alias("d")
                        ),
                    ),
                    F.transform(
                        F.array_distinct(plus_arr),
                        lambda x: F.struct(
                            x.alias("t"), F.lit(0).alias("o"), F.lit(1).alias("d")
                        ),
                    ),
                    F.transform(
                        F.array_distinct(minus_arr),
                        lambda x: F.struct(
                            x.alias("t"), F.lit(0).alias("o"), F.lit(-1).alias("d")
                        ),
                    ),
                )
            ).alias("ts"),
        )
        counts = (
            signed.groupBy(F.col("ts.t").alias("token"))
            .agg(
                F.sum("ts.o").alias("d_occ"),
                F.sum("ts.d").alias("d_docs"),
            )
            .filter((F.col("d_occ") != 0) | (F.col("d_docs") != 0))
            .select(*[F.col(n).cast(t) for n, t in PENDING_COLUMNS])
        )
        # requeue pendings get their own namespace: their synthetic chunk
        # ids must never be confusable with (or sort against) the stream's
        # lsn-keyed b*_c* dirs
        if requires_version is not None:
            pend = os.path.join(self.pending_dir, f"rq{int(requires_version):012d}")
        else:
            pend = os.path.join(
                self.pending_dir, f"b{batch_id:010d}_c{chunk:012d}"
            )
        data_dir = os.path.join(pend, "data")
        from pyspark.sql import Observation

        obs = Observation(f"vocab-stage-{batch_id}-{chunk}")
        counts.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(data_dir)
        n_rows = int(obs.get.get("n") or 0)
        # meta last: a dir without meta.json is a crashed stage and is
        # swept, never folded
        tmp = os.path.join(pend, "meta.json.tmp")
        meta = {
            "batch_id": batch_id,
            "chunk": chunk,
            "watermark": int(watermark),
            "n_rows": n_rows,
        }
        if requires_version is not None:
            meta["requires_version"] = int(requires_version)
        with open(tmp, "w") as f:
            json.dump(
                meta,
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(pend, "meta.json"))
        return pend

    @staticmethod
    def _resolve(old: dict, new: dict) -> dict:
        # BOTH sides nullable (merge contract): an untouched old row in
        # an affected bucket arrives with an all-null new side —
        # `old + NULL` would null its counts, so coalesce every term
        zero = F.lit(0).cast("long")
        return {
            "token": F.coalesce(old["token"], new["token"]),
            "n_occ": F.coalesce(old["n_occ"], zero) + F.coalesce(new["d_occ"], zero),
            "n_docs": F.coalesce(old["n_docs"], zero)
            + F.coalesce(new["d_docs"], zero),
        }

    def fold(self, pend: str) -> None:
        """Fold one staged delta into the vocab table (idempotent: a
        pending dir at or below its marker — the stream (batch, chunk)
        marker, or ``folded_requeue_version`` for requeue pendings — is
        dropped unapplied)."""
        with open(os.path.join(pend, "meta.json")) as f:
            meta = json.load(f)
        if self._already_folded(meta):
            shutil.rmtree(pend, ignore_errors=True)
            return
        rv = meta.get("requires_version")
        if rv is not None:
            props = {"folded_requeue_version": int(rv)}
        else:
            props = {
                "folded_batch": int(meta["batch_id"]),
                "folded_chunk": int(meta["chunk"]),
            }
        d = self.spark.read.schema(PENDING_SCHEMA).parquet(os.path.join(pend, "data"))
        resolve = self._resolve

        # accumulating resolver -> CoW required (LakeTable.merge contract).
        # affected = every vocab bucket (a token delta spreads across the
        # hash space; "all" is the correct superset and skips the
        # distinct-collect job) and delta_rows from the stage Observation
        # skips the count job — the fold runs exactly one Spark action.
        self.table.merge(
            d,
            resolve,
            properties_update=props,
            delta_rows=int(meta.get("n_rows", 0)),
            affected_buckets=list(range(self.table.snapshot()["n_buckets"])),
            mode="cow",
        )
        shutil.rmtree(pend, ignore_errors=True)

    # ---------- reader ----------

    def counts(self) -> DataFrame:
        """(token, n_occ, n_docs) for every token with live occurrences.
        Folds any ready outbox backlog first, so reads are exact even
        between a merge's commit and its fold. Zero rows (every occurrence
        deleted/replaced away) are retained physically and filtered here
        — cheaper than delete-on-zero churn for tokens that oscillate in
        and out of the corpus."""
        self.fold_ready()
        return (
            self.table.read()
            .filter(F.col("n_occ") > 0)
            .select("token", "n_occ", "n_docs")
        )
