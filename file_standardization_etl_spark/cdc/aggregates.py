"""Incrementally-maintained derived aggregates over the CDC target table.

``TokenVocab`` is incremental view maintenance (IVM) of the corpus-wide
token-frequency view

    SELECT token, count(*) AS n_occ, count(DISTINCT doc) AS n_docs
    FROM state LATERAL VIEW explode(tokens) AS token

committed atomically with the target table. A full recompute scans every
token array in the table — O(corpus) per refresh, the thing you cannot
afford at 10^10 events. The maintained version reads O(delta) token
arrays per micro-batch: the chunk's count delta is

    + tokens of each LWW winner that actually replaces state
    - tokens of each row it replaces (read from the PRE-merge snapshot,
      bucket-pruned to the chunk's affected buckets)

with the same rule as the merge (a winner replaces a row only with a
greater ``last_lsn``, the target's recorded order column), so the
aggregate can never drift from the table even under out-of-order or
duplicate delivery.

The vocab is one small parquet dir of ``(token, n_occ, n_docs)`` under
the target's ``data/``, named by the target snapshot's ``vocab``
property. Each chunk's stage sums its delta with the rows of the dir the
snapshot it planned against references, in one token-keyed aggregate,
and writes the whole next vocab into a fresh dir; the chunk's own commit
(the merge, or bootstrap's overwrite) points the property at it, and its
``pre_commit`` makes the write durable first. The log entry is the
commit (Delta Lake, VLDB'20), so there is no recovery protocol:

    crash before the commit -> the new dir is unreferenced garbage that
                               ``LakeTable.expire_snapshots`` collects;
                               redelivery stages against the same snapshot
    crash after the commit  -> nothing to do: the snapshot that publishes
                               the chunk publishes its vocab

The rewrite is O(vocabulary) per chunk — 10^5-10^6 rows at web scale,
however large the target grows.

A table records whether it maintains the vocab: a vocab engine creates
the target with the ``vocab`` property (null until the first stage), and
the engine refuses to write through a mismatched setting.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import BROADCAST_MAX_KEY_ROWS, LakeTable, TableSchema

VOCAB_COLUMNS = [("token", "bigint"), ("n_occ", "bigint"), ("n_docs", "bigint")]
# stage_delta writes its counts cast to these types and every read binds
# this schema, so planning a vocab read infers nothing
VOCAB_SCHEMA = ", ".join(f"{n} {t}" for n, t in VOCAB_COLUMNS)
# the target snapshot property naming the committed vocab dir; its
# presence is the table's record that it maintains the vocab
VOCAB_PROPERTY = "vocab"


class TokenVocab:
    """The token vocabulary of one engine's target table."""

    def __init__(self, spark: SparkSession, target: LakeTable, tokens_fid: int):
        self.spark = spark
        self.target = target
        # the old-side read binds the key, order and tombstone columns by
        # the snapshot's recorded roles and the token column by field id,
        # so a rename_column mid-stream never misaligns it
        self._tokens_fid = tokens_fid

    def next_dir(self, snap: dict) -> str:
        """A fresh vocab dir for the commit after ``snap``."""
        return os.path.join(
            self.target.path,
            LakeTable.DATA,
            f"vocab{snap['version'] + 1}-{uuid.uuid4().hex[:8]}",
        )

    def maybe_fold(self) -> None:
        """Nothing left to fold: the commit that publishes a chunk
        references the whole next vocab :meth:`stage_delta` wrote."""

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
        delta: DataFrame,
        snap: dict,
        out: str,
        affected_buckets: list[int] | None = None,
        delta_rows: int | None = None,
        delta_bytes: int | None = None,
    ) -> None:
        """Write to ``out`` the vocab after one chunk: the vocab ``snap``
        references plus the chunk's signed (token, occ, docs) delta
        against ``snap``'s rows. Must settle before the chunk's commit,
        which references ``out``.

        ``delta`` is the LWW-deduped winner set (wire column names, one
        row per doc_id). Plan shape: the old side is a bucket-pruned,
        column-pruned read of ``snap`` inner-joined to the broadcast
        winner keys — delta-sized from the first join on; the explodes
        touch O(delta) token arrays, never the table.

        ``affected_buckets=None`` (snapshot bootstrap) skips the old side
        entirely: the delta there is snapshot-sized, so the unconditional
        ``F.broadcast(delta)`` below — fine at micro-batch scale — would
        ship the whole corpus key set to every executor. With an empty
        base the minus side is vacuously empty and no join is needed.
        """
        if affected_buckets is None:
            j = delta.select("doc_id", "lsn", "op", "tokens").select(
                "*",
                F.lit(None).cast("long").alias("__old_lsn"),
                F.lit(None).cast("boolean").alias("__old_del"),
                F.lit(None).cast("array<bigint>").alias("__old_toks"),
            )
        else:
            tokens = TableSchema.from_json(snap["schema"]).by_id()[self._tokens_fid].name
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
                self.target.read(buckets=affected_buckets, as_of_version=snap["version"])
                .select(
                    F.col(snap["key_column"]).alias("doc_id"),
                    F.col(snap["order_column"]).alias("__old_lsn"),
                    F.coalesce(F.col(snap["tombstone_column"]), F.lit(False)).alias(
                        "__old_del"
                    ),
                    F.col(tokens).alias("__old_toks"),
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

        def signed(arr, o: int, d: int):
            return F.transform(
                arr,
                lambda x: F.struct(
                    x.alias("token"),
                    F.lit(o).cast("long").alias("n_occ"),
                    F.lit(d).cast("long").alias("n_docs"),
                ),
            )

        # ONE pass over the join and ONE shuffle total. Occurrence deltas
        # are (token, ±1) over raw arrays; doc-frequency deltas are
        # (token, ±1) over the ROW-LOCAL array_distinct of each side —
        # per-(doc,token) presence never needs a (doc_id, token) shuffle.
        # The prior vocab's rows join the same token-keyed, map-side
        # combined aggregate, so shuffle rows = distinct tokens per
        # partition regardless of delta size.
        rows = j.select(
            F.explode(
                F.concat(
                    signed(plus_arr, 1, 0),
                    signed(minus_arr, -1, 0),
                    signed(F.array_distinct(plus_arr), 0, 1),
                    signed(F.array_distinct(minus_arr), 0, -1),
                )
            ).alias("ts"),
        ).select("ts.*")
        prior = snap["properties"].get(VOCAB_PROPERTY)
        if prior is not None:
            rows = rows.unionByName(self.spark.read.schema(VOCAB_SCHEMA).parquet(prior))
        (
            rows.groupBy("token")
            .agg(F.sum("n_occ").alias("n_occ"), F.sum("n_docs").alias("n_docs"))
            # a token every occurrence of which is gone leaves the vocab
            .filter((F.col("n_occ") != 0) | (F.col("n_docs") != 0))
            .select(*[F.col(n).cast(t) for n, t in VOCAB_COLUMNS])
            .write.parquet(out)
        )

    # ---------- reader ----------

    def counts(self) -> DataFrame:
        """(token, n_occ, n_docs) for every token with live occurrences:
        a schema-bound read of the vocab dir the current target snapshot
        references."""
        path = self.target.properties().get(VOCAB_PROPERTY)
        if path is None:
            return self.spark.createDataFrame([], VOCAB_SCHEMA)
        return self.spark.read.schema(VOCAB_SCHEMA).parquet(path)
