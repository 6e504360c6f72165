"""LakeTable — parquet + versioned JSON snapshots ("mini-Iceberg").

Layout on disk::

    table_dir/
      _meta/VERSION          # text: current snapshot number (os.replace → atomic)
      _meta/v{N}.json        # snapshot N: schema, per-bucket file lists, props
      _meta/manifests/m*.json         # bucket-range manifest chunks (large layouts)
      data/s{N}/_bucket=K/*.parquet   # base files written by snapshot N (CoW)
      data/d{N}-u/*.parquet           # merge-on-read delta files (bucket-sorted,
                                      # carry _bucket and _seq columns)

Design properties (the ones Iceberg would give us, and why they matter at
100 TB):

- **Snapshot isolation / atomic commit**: data files are written first,
  then a new snapshot JSON, then the VERSION pointer is swapped with an
  optimistic expected-version check. Readers resolve VERSION once and see
  a consistent file list. A crashed writer leaves only unreferenced files.
- **Hash-bucket layout**: every row lives in bucket
  ``pmod(xxhash64(key), n_buckets)``. A MERGE touches only the buckets its
  delta hashes into, so write amplification is bounded by
  ``|affected buckets| / n_buckets`` of the table, not the whole table.
  On a real cluster this layout would be registered as a bucketed catalog
  table so the MERGE join needs no shuffle on the table side.
- **Recorded column roles**: a snapshot records three roles, and
  ``rename_column`` moves each with its column: ``key_column`` (one row
  per key, hashed to its bucket), ``order_column`` (decides which row
  wins a key) and the boolean ``tombstone_column`` (flags a tombstone, a
  dead key kept for its order value). Readers and maintenance take them
  from the snapshot, never from a caller: ``changes`` reports a key that
  turns into a tombstone as a delete, ``compact`` records its tombstone
  expiry fence ``tombstones_expired_below`` in the same commit, and DML
  refuses a table with a tombstone column.
- **Keyed upsert by a recorded order column**: ``merge`` takes rows
  named by table columns, at most one per key. A delta row replaces its
  key's stored row when the key is absent, the table records no
  ``order_column``, or the row's order value is strictly greater (a
  stored null loses); the replacing row sets the columns it carries and
  the stored row keeps the rest (null for a new key). Deletes are
  tombstone rows, so a stale straggler can never resurrect a key. This
  one rule serves the copy-on-write merge and the merge-on-read
  resolution alike, and the delta a merge takes is the after-image of
  every key it changes.
- **Merge-on-read delta stacks** (round 3): ``merge`` appends
  micro-batch deltas as a few bucket-sorted files and leaves the base
  untouched — commit I/O is O(delta), the Hudi/Paimon shape — while
  ``read()`` resolves the stack (the newest ``_seq`` row per key against
  the base row, by the rule above, with base-column fallback by recorded
  ``column_ids``) with one per-key aggregate, the same one the CoW merge
  runs under its ``_bucket`` repartition with the incoming delta as a
  third layer. A full read aggregates only the stack's keys and adds
  the untouched base rows through a broadcast anti-join, so the base is
  never shuffled; ``read(keys=)`` aggregates only the keys asked for.
  That equals copy-on-write only while every delta is newer
  than the rows stacked under it, so the lake decides it: the delta's
  write observes its bucket set and order range, each stacked item
  records its ``order_max``, and a delta whose least order value is not
  above every bound stacked in its buckets merges copy-on-write instead
  (as do oversized deltas and deep stacks). Copy-on-write FOLDS the
  stack — the compaction scheduler is the merge policy itself.
- **Metadata-only schema evolution**: columns carry stable integer ids;
  each snapshot records a schema version, and each file group remembers
  the schema version it was written under. ``add_column`` /
  ``rename_column`` / ``widen_type`` only write a new snapshot JSON —
  zero data rewrite, like Iceberg. Reads reconcile old files by id
  (rename), null-fill (add), and cast (widen).

The reference has no table format at all (it appends to PostgreSQL via
JDBC and "commits" by stored-proc + is_processed flag,
``/root/reference/repomix-output.xml:9070-9095``); this module is the
lake-native replacement demanded by the north rule.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class SchemaColumn:
    id: int
    name: str
    type: str  # Spark DDL type string

    def spark_type(self) -> T.DataType:
        return T._parse_datatype_string(self.type)


@dataclass
class TableSchema:
    version: int
    columns: list[SchemaColumn]

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "columns": [{"id": c.id, "name": c.name, "type": c.type} for c in self.columns],
        }

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(
            version=d["version"],
            columns=[SchemaColumn(c["id"], c["name"], c["type"]) for c in d["columns"]],
        )

    def names(self) -> list[str]:
        return [c.name for c in self.columns]

    def by_id(self) -> dict[int, SchemaColumn]:
        return {c.id: c for c in self.columns}

    def by_name(self) -> dict[str, SchemaColumn]:
        return {c.name: c for c in self.columns}

    def struct_type(self) -> T.StructType:
        return T.StructType([T.StructField(c.name, c.spark_type(), True) for c in self.columns])

    def typed(self, df: DataFrame) -> DataFrame:
        """``df`` with each of its columns this schema records cast to the
        recorded type. The table's writers pass their output through it,
        so every file holds the types its schema version declares — the
        types the schema-bound reads (:meth:`LakeTable.read`) expect; a
        wider input (``bigint`` into an ``int`` column) is cast, and a
        value out of range fails the write before anything commits."""
        types = {c.name: c.type for c in self.columns}
        return df.select(
            *[F.col(n).cast(types[n]).alias(n) if n in types else F.col(n) for n in df.columns]
        )


# Widenings we allow, mirroring Iceberg's metadata-only type promotions.
_WIDEN_OK = {
    ("int", "bigint"),
    ("float", "double"),
    ("array<int>", "array<bigint>"),
    ("int", "double"),
}


def bucket_expr(key: Column, n_buckets: int) -> Column:
    """Deterministic bucket id for a key (engine-wide convention)."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


# Column names the physical layout owns: '_bucket' (hash-bucket partition
# column injected by _bucketed/_write_delta) and '_seq'/'_tag' (MOR
# delta commit-version / file-tag columns consumed by _resolve). DDL
# introducing a USER column by any of these names is rejected in
# apply_schema_change — the collision would corrupt or wedge reads, not
# error cleanly.
LAYOUT_RESERVED = frozenset({"_bucket", "_seq", "_tag"})

# the column roles a snapshot records (module docstring)
ROLES = ("key_column", "order_column", "tombstone_column")

# the MOR delta layout columns as _write_delta writes them (bucket_expr
# yields int; _seq is the commit version), declared by the schema-bound
# delta read in _layers
DELTA_LAYOUT = T.StructType(
    [T.StructField("_bucket", T.IntegerType()), T.StructField("_seq", T.IntegerType())]
)

# Engine-wide broadcast gate for KEY-ONLY frames (doc_id / (doc_id, lsn)
# rows, no payload arrays): above this many rows the frame is too big to
# ship to every executor and the join falls back to a shuffle. Consumers:
# the hot path's routed winner-key join (cdc/apply.py) and the key frame
# of TokenVocab's pre-image read (cdc/aggregates.py). Payload-carrying
# frames must use a BYTE gate instead (LakeTable.MOR_BROADCAST_MAX_BYTES).
BROADCAST_MAX_KEY_ROWS = 4_000_000


class CommitConflict(RuntimeError):
    pass


class LakeTable:
    """Versioned, bucketed parquet table with MERGE + schema evolution."""

    META = "_meta"
    DATA = "data"
    MANIFESTS = "manifests"

    # Manifest chunking (the Iceberg manifest-list shape). A snapshot's
    # per-bucket file map is stored inline in the snapshot JSON while the
    # layout is small, but a 10^5-bucket table must not rewrite a
    # monolithic file list on every commit: above the inline threshold the
    # map is split into bucket-range chunk files under _meta/manifests/,
    # referenced from the snapshot by a small manifest list. A merge that
    # touches buckets in k chunks rewrites exactly k chunk files (plus the
    # small list) and carries every other chunk forward BY REFERENCE —
    # commit metadata I/O is O(touched buckets), not O(table buckets).
    MANIFEST_INLINE_MAX = 128  # bucket layouts at or below stay inline
    MANIFEST_CHUNK = 512  # buckets per manifest chunk when chunked

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ---------- metadata plumbing ----------

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.path, self.META)

    def _version_file(self) -> str:
        return os.path.join(self._meta_dir, "VERSION")

    def exists(self) -> bool:
        return os.path.exists(self._version_file())

    def current_version(self) -> int:
        with open(self._version_file()) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self._meta_dir, f"v{v}.json")) as f:
            return json.load(f)

    def schema(self) -> TableSchema:
        return TableSchema.from_json(self.snapshot()["schema"])

    def properties(self) -> dict:
        return self.snapshot().get("properties", {})

    def _atomic_write(self, path: str, text: str) -> None:
        """Crash-durable publish: fsync the data BEFORE the rename and the
        directory entry after it. Without the first fsync, a power loss
        shortly after a commit can persist the rename but not the data
        blocks (ext4/xfs), leaving VERSION pointing at a truncated
        snapshot — an unreadable table. The WAL source checkpoint may by
        then have advanced past the batch, so the commit must not revert."""
        d = os.path.dirname(path)
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        try:
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:
            pass  # directory fsync unsupported on some filesystems

    # ---------- manifest chunking ----------

    def _property_dirs(self, snap: dict) -> list[str]:
        """Data dirs ``snap`` references through its properties: a
        property whose value names a directory directly under ``data/``
        (the CDC engine's token vocabulary) is part of the snapshot —
        :meth:`expire_snapshots` keeps it exactly while the snapshot is
        kept, and :meth:`history` reports its bytes."""
        root = os.path.join(self.path, self.DATA)
        return [
            v for v in snap.get("properties", {}).values()
            if isinstance(v, str) and os.path.dirname(v) == root
        ]

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._meta_dir, self.MANIFESTS, name)

    def _files_load(self, snap: dict, buckets: list[int] | None = None) -> dict:
        """The snapshot's bucket -> file-entry map. Inline snapshots return
        it directly; chunked snapshots load only the manifest chunks whose
        bucket range intersects ``buckets`` (all chunks when None) — a
        bucket-pruned read of a 10^5-bucket table opens O(touched chunks)
        manifest files, not the whole list."""
        if "files" in snap:
            return snap["files"]
        chunks = snap.get("manifest_list", [])
        if buckets is not None:
            want = {int(b) for b in buckets}
            chunks = [c for c in chunks if any(c["lo"] <= b <= c["hi"] for b in want)]
        out: dict = {}
        for c in chunks:
            with open(self._manifest_path(c["file"])) as f:
                out.update(json.load(f))
        return out

    @staticmethod
    def _entry_bytes(entry: dict) -> int:
        """Bytes attributable to ONE bucket's entry. A MOR delta file is
        shared by every bucket that references it, so its item carries
        both ``bytes`` (true file size — what read() sums once per path
        for the broadcast decision) and ``share_bytes`` (size apportioned
        over the referencing buckets — what per-bucket accounting must
        use, or a 64-bucket delta would be counted 64 times in the
        compaction threshold, write-task sizing and manifest stats)."""
        return entry.get("bytes", 0) + sum(
            d.get("share_bytes", d.get("bytes", 0)) for d in entry.get("deltas", [])
        )

    def _files_replace(
        self,
        snap: dict,
        remove_buckets,
        add_entries: dict,
        version_hint: int,
        replace_all: bool = False,
    ) -> None:
        """Mutate ``snap``'s file pointers: drop ``remove_buckets``, then
        add ``add_entries`` (bucket str -> entry). Layouts at or below
        ``MANIFEST_INLINE_MAX`` buckets stay inline in the snapshot JSON;
        larger layouts write bucket-range manifest chunks, rewriting ONLY
        chunks that intersect the touched buckets and carrying the rest
        forward by reference (commit metadata I/O ~ touched buckets).
        ``replace_all`` discards every prior entry (overwrite)."""
        if snap["n_buckets"] <= self.MANIFEST_INLINE_MAX:
            files = {} if replace_all else dict(self._files_load(snap))
            for b in remove_buckets:
                files.pop(str(b), None)
            files.update(add_entries)
            snap.pop("manifest_list", None)
            snap["files"] = files
            return
        chunk = self.MANIFEST_CHUNK
        by_cid: dict[int, dict] = {}
        carried: list[dict] = []
        if replace_all:
            touched = {int(b) // chunk for b in add_entries}
        else:
            touched = {int(b) // chunk for b in remove_buckets} | {
                int(b) // chunk for b in add_entries
            }
            old_list = snap.get("manifest_list")
            if old_list is None:
                # migrating an inline snapshot to chunked: every existing
                # bucket must land in a chunk
                for b, e in snap.get("files", {}).items():
                    by_cid.setdefault(int(b) // chunk, {})[b] = e
                touched |= set(by_cid)
            else:
                for c in old_list:
                    cid = c["lo"] // chunk
                    if cid in touched:
                        with open(self._manifest_path(c["file"])) as f:
                            by_cid[cid] = json.load(f)
                    else:
                        carried.append(c)
        for b in remove_buckets:
            by_cid.get(int(b) // chunk, {}).pop(str(b), None)
        for b, e in add_entries.items():
            by_cid.setdefault(int(b) // chunk, {})[str(b)] = e
        os.makedirs(os.path.join(self._meta_dir, self.MANIFESTS), exist_ok=True)
        new_list = list(carried)
        for cid in sorted(by_cid):
            entries = by_cid[cid]
            if not entries:
                continue
            name = f"m{version_hint}-{cid}-{uuid.uuid4().hex[:8]}.json"
            self._atomic_write(self._manifest_path(name), json.dumps(entries))
            new_list.append(
                {
                    "file": name,
                    "lo": cid * chunk,
                    "hi": cid * chunk + chunk - 1,
                    "n": len(entries),
                    "bytes": sum(self._entry_bytes(e) for e in entries.values()),
                }
            )
        snap.pop("files", None)
        snap["manifest_list"] = sorted(new_list, key=lambda c: c["lo"])

    def _publish(
        self,
        snap: dict,
        add: dict,
        remove=(),
        pre_commit=None,
        properties_update: dict | None = None,
        replace_all: bool = False,
    ) -> None:
        """The one commit tail: point ``snap`` at the written files
        (``add``: bucket str -> entry, dropping ``remove``), run
        ``pre_commit`` durably, fold ``properties_update`` into the same
        snapshot, then commit against the version ``snap`` was read at.
        If ``pre_commit`` raises nothing is committed (the written files
        are unreferenced stragglers swept by GC)."""
        v = snap["version"]
        self._files_replace(snap, remove, add, v + 1, replace_all=replace_all)
        if pre_commit is not None:
            pre_commit()
        if properties_update:
            snap["properties"].update(properties_update)
        self._commit(snap, v)

    def _commit(self, snap: dict, expected_version: int) -> None:
        """Optimistic single-writer commit: snapshot file then pointer swap."""
        if self.current_version() != expected_version:
            raise CommitConflict(
                f"expected v{expected_version}, found v{self.current_version()}"
            )
        v = expected_version + 1
        snap["version"] = v
        self._atomic_write(os.path.join(self._meta_dir, f"v{v}.json"), json.dumps(snap, indent=1))
        self._atomic_write(self._version_file(), str(v))

    # ---------- create ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        columns: list[tuple[str, str]],
        key_column: str,
        n_buckets: int = 16,
        properties: dict | None = None,
        order_column: str | None = None,
        tombstone_column: str | None = None,
    ) -> "LakeTable":
        """A new empty table recording its column roles (module
        docstring); without an ``order_column`` the last write wins. A
        role naming no declared column, or a tombstone column that is not
        ``boolean``, raises ``ValueError`` before anything is written."""
        # same invariant apply_schema_change enforces for DDL: a user
        # column named after a layout column would be silently overwritten
        # by the bucketed writer ('_bucket') or make every MOR read
        # ambiguous ('_seq'/'_tag') — reject at creation, not at the first
        # corrupted read
        bad = LAYOUT_RESERVED & {n for n, _ty in columns}
        if bad:
            raise ValueError(
                f"column names {sorted(bad)} are reserved layout columns"
            )
        types = dict(columns)
        roles = dict(zip(ROLES, (key_column, order_column, tombstone_column)))
        if any(n is not None and n not in types for n in roles.values()) or (
            types.get(tombstone_column, "boolean") != "boolean"
        ):
            raise ValueError(f"roles {roles} need declared columns, a boolean tombstone")
        t = cls(spark, path)
        os.makedirs(t._meta_dir, exist_ok=True)
        if t.exists():
            raise FileExistsError(path)
        schema = TableSchema(
            version=1,
            columns=[SchemaColumn(i + 1, n, ty) for i, (n, ty) in enumerate(columns)],
        )
        snap = {
            "version": 0,
            **roles,
            "n_buckets": n_buckets,
            "schema": schema.to_json(),
            "schema_versions": {"1": schema.to_json()},
            "schema_log": [],
            "files": {},  # bucket(str) -> {"path": str, "schema_version": int}
            "properties": properties or {},
        }
        t._atomic_write(os.path.join(t._meta_dir, "v0.json"), json.dumps(snap, indent=1))
        t._atomic_write(t._version_file(), "0")
        return t

    # ---------- read ----------

    def history(self) -> list[dict]:
        """COMMITTED snapshots, oldest first: version, properties, schema
        version, file count (Iceberg's ``history`` metadata table).
        ``bytes`` counts the bucket files (base and merge-on-read
        deltas); ``side_bytes`` the dirs referenced through properties
        (:meth:`_property_dirs`).
        Snapshots below an ``expire_snapshots`` horizon are gone; a
        crashed writer's orphan (v{N}.json written, crash before the
        VERSION pointer swap) is excluded — it is not part of table
        history until the restarted writer recommits it."""
        head = self.current_version()
        out = []
        for name in sorted(os.listdir(self._meta_dir)):
            if name.startswith("v") and name.endswith(".json"):
                if int(name[1:-5]) > head:
                    continue
                snap = self.snapshot(int(name[1:-5]))
                if "files" in snap:
                    n_files = len(snap["files"])
                    nbytes = sum(self._entry_bytes(e) for e in snap["files"].values())
                else:
                    # chunked: stats ride the manifest list — no chunk reads
                    n_files = sum(c["n"] for c in snap.get("manifest_list", []))
                    nbytes = sum(c["bytes"] for c in snap.get("manifest_list", []))
                out.append(
                    {
                        "version": snap["version"],
                        "schema_version": snap["schema"]["version"],
                        "n_files": n_files,
                        "bytes": nbytes,
                        "side_bytes": sum(
                            self._dir_bytes(p) for p in self._property_dirs(snap)
                        ),
                        "properties": snap.get("properties", {}),
                    }
                )
        return sorted(out, key=lambda s: s["version"])

    def read(
        self,
        buckets: list[int] | None = None,
        as_of_version: int | None = None,
        keys: DataFrame | None = None,
    ) -> DataFrame:
        """Snapshot scan (current, or time travel via ``as_of_version``),
        optionally bucket-pruned and key-pruned.

        Base files are read grouped by the schema version they were
        written under; each group is reconciled to THAT SNAPSHOT's schema
        by column id (rename = alias, add = null-fill, widen = cast) and
        unioned. The number of live schema versions is tiny, so this is a
        handful of parquet scans — each still gets Catalyst pushdown and
        pruning. Time travel only reaches snapshots not yet removed by
        ``expire_snapshots`` (their data dirs are retained exactly while
        the snapshot JSON is).

        ``keys`` — a frame of the key column — keeps only the stored rows
        of those keys: it is semi-joined into the base and into each
        delta group before anything is resolved, so the read is
        key-sized past the scans. Hint it with ``F.broadcast`` when it is
        small.

        Buckets carrying a **merge-on-read delta stack** (appended by
        :meth:`merge`) are resolved here by :meth:`_resolve`: one per-key
        aggregate keeps the base row and the newest stacked row, and the
        merge rule sets the columns the stacked row carries; columns it
        lacks or that were added after it was written keep the base
        row's value. :meth:`merge` stacks a delta only above every order
        value stacked under it, so this equals the copy-on-write result.
        A full read resolves only the stack's own keys that way and adds
        the base rows no delta touches through an anti-join against the
        stack's keys, broadcast while the stack is within
        ``MOR_BROADCAST_MAX_BYTES`` — the base is never shuffled; past
        it every row goes through the aggregate. Compacted tables (no
        deltas) take the plain scan path with zero overhead.
        """
        snap = self.snapshot(as_of_version)
        cur = TableSchema.from_json(snap["schema"])
        key = snap["key_column"]
        base, stack, sets, stack_bytes = self._layers(snap, cur, buckets)
        if keys is not None:
            base = None if base is None else base.join(keys, key, "left_semi")
            stack = [p.join(keys, key, "left_semi") for p in stack]
        if not stack:
            return self.spark.createDataFrame([], cur.struct_type()) if base is None else base
        rows = reduce(DataFrame.unionByName, stack)
        untouched = None
        if keys is None and base is not None and stack_bytes <= self.MOR_BROADCAST_MAX_BYTES:
            touched = F.broadcast(rows.select(key))
            untouched = base.join(touched, key, "left_anti")
            base = base.join(touched, key, "left_semi")
        if base is not None:
            rows = self._base_layer(base).unionByName(rows)
        out = self._resolve(snap, rows, sets)
        return out if untouched is None else untouched.unionByName(out)

    @staticmethod
    def _by_id(
        cur: TableSchema, old: TableSchema, present: set[int] | None = None
    ) -> list[Column]:
        """Project columns written under schema ``old`` onto ``cur`` by
        column id: rename = alias, widen = cast, and a typed null for a
        column ``old`` lacks (added later) or whose id is outside
        ``present`` (one a MOR delta file does not carry)."""
        old_by_id = old.by_id()
        cols = []
        for c in cur.columns:
            o = old_by_id.get(c.id)
            if o is None or (present is not None and c.id not in present):
                cols.append(F.lit(None).cast(c.type).alias(c.name))
            else:
                col = F.col(o.name)
                cols.append((col if o.type == c.type else col.cast(c.type)).alias(c.name))
        return cols

    def _reconcile_union(
        self, snap: dict, cur: TableSchema, groups: dict[int, list[str]]
    ) -> DataFrame | None:
        """Union base file groups reconciled by column id to ``cur``. Each
        group is read with the schema its version recorded, so planning
        runs no schema-inference job."""
        if not groups:
            return None
        parts = []
        for sv, paths in sorted(groups.items()):
            old = TableSchema.from_json(snap["schema_versions"][str(sv)])
            parts.append(
                self.spark.read.schema(old.struct_type())
                .parquet(*paths)
                .select(*self._by_id(cur, old))
            )
        return reduce(DataFrame.unionByName, parts)

    # Byte gate for the full read's broadcast of the stack's keys: past
    # this many live delta file bytes the touched-key frame is too big to
    # ship to every executor, and every row goes through the aggregate.
    MOR_BROADCAST_MAX_BYTES = 256 << 20

    @staticmethod
    def _base_layer(base: DataFrame) -> DataFrame:
        """Base rows as the order-0 layer :meth:`_resolve` aggregates."""
        return base.select(
            F.lit(0).alias("_seq"), F.lit(None).cast("int").alias("_tag"), *base.columns
        )

    def _resolve(
        self, snap: dict, rows: DataFrame, sets: list[set[int]], fold: bool = False
    ) -> DataFrame:
        """The merge rule (module docstring) as ONE per-key aggregate over
        ``rows``: the union of the base layer (``_seq`` 0), the stacked
        delta groups (``_seq`` their commit version) and, on a ``fold``,
        the incoming delta (``_seq`` -1, so no per-commit literal reaches
        the generated code), each row reconciled to ``snap``'s schema and
        tagged ``_tag``, whose carried column ids are ``sets[_tag]``. Per
        key the aggregate keeps the base row, the newest stacked row and
        the incoming row; the rule then lays the stacked row over the
        base row and the incoming row over that: a strictly greater order
        value wins (a missing or null stored one loses; every win without
        an order column), and a winner sets the columns it carries while
        the rest keep the value below. A ``fold`` groups by ``_bucket``
        too, so the aggregate rides a ``_bucket`` repartition of ``rows``
        (:meth:`_bucketed`) with no further exchange, and keeps it."""
        key, order = snap["key_column"], snap.get("order_column")
        cur = TableSchema.from_json(snap["schema"])
        seq = F.col("_seq")
        row = F.struct("_tag", *cur.names())
        tiers = {"__s": F.when(seq > 0, seq)}
        if fold:
            tiers["__i"] = F.when(seq < 0, seq)
        by = ["_bucket"] if fold else []
        picked = rows.groupBy(*by, key).agg(
            F.max_by(row, F.when(seq == 0, seq)).alias("__b"),
            *[F.max_by(row, o).alias(t) for t, o in tiers.items()],
        )
        out = {c: F.col("__b")[c] for c in cur.names()}
        for tier in tiers:
            up = F.col(tier)
            wins = up.isNotNull()
            if order is not None:
                wins = wins & (out[order].isNull() | (up[order] > out[order]))
            for c in cur.columns:
                tags = [t for t, ids in enumerate(sets) if c.id in ids]
                if tags:
                    hit = wins if len(tags) == len(sets) else wins & up["_tag"].isin(*tags)
                    out[c.name] = F.when(hit, up[c.name]).otherwise(out[c.name])
        return picked.select(
            *by, *[(F.col(c) if c == key else out[c]).alias(c) for c in cur.names()]
        )

    def _layers(
        self, snap: dict, cur: TableSchema, buckets: list[int] | None
    ) -> tuple[DataFrame | None, list[DataFrame], list[set[int]], int]:
        """The stored layers of ``buckets`` (all when None) in ``snap``:
        ``(base, stack, sets, stack_bytes)``. ``base`` is the base files
        reconciled to ``cur`` (None when there are none). ``stack`` holds
        one frame per merge-on-read delta file group: the rows of the
        buckets that still REFERENCE the file (a later copy-on-write
        rewrite of a bucket drops its reference while the rows stay in
        the shared file, and must not resurrect), reconciled to ``cur``
        by column id, with the commit version ``_seq`` the file carries
        and the group's ``_tag``. ``sets[_tag]`` holds the column ids the
        group carries (its ``column_ids``, else its schema version's);
        ``stack_bytes`` sums the delta files once each. Every read is
        schema-bound, so planning runs no schema-inference job."""
        groups: dict[int, list[str]] = {}
        # delta path -> [schema version, column ids, bytes, referencing buckets]
        deltas: dict[str, list] = {}
        for b, entry in self._files_load(snap, buckets).items():
            if buckets is not None and int(b) not in buckets:
                continue
            if entry.get("path"):
                groups.setdefault(entry["schema_version"], []).append(entry["path"])
            for d in entry.get("deltas", []):
                rec = deltas.setdefault(
                    d["path"],
                    [d["schema_version"], tuple(d.get("column_ids") or ()), d.get("bytes", 0), []],
                )
                rec[3].append(int(b))
        by_sig: dict[tuple, list[str]] = {}
        for path, (sv, ids, _bytes, bks) in deltas.items():
            by_sig.setdefault((sv, ids, tuple(sorted(bks))), []).append(path)
        stack: list[DataFrame] = []
        sets: list[set[int]] = []
        for (sv, ids, bks), paths in sorted(by_sig.items(), key=lambda kv: (kv[0][0], kv[0][2])):
            old = TableSchema.from_json(snap["schema_versions"][str(sv)])
            present = set(ids) or {c.id for c in old.columns}
            # the file's own columns (those it carries, plus the layout pair)
            written = T.StructType(
                [T.StructField(c.name, c.spark_type()) for c in old.columns if c.id in present]
                + DELTA_LAYOUT.fields
            )
            stack.append(
                self.spark.read.schema(written)
                .parquet(*paths)
                .filter(F.col("_bucket").isin(*bks))
                .select("_seq", F.lit(len(sets)).alias("_tag"), *self._by_id(cur, old, present))
            )
            sets.append(present)
        stack_bytes = sum(rec[2] for rec in deltas.values())
        return self._reconcile_union(snap, cur, groups), stack, sets, stack_bytes

    # ---------- write helpers ----------

    # dynamic-write task sizing: one output task per this many estimated
    # output bytes (≈ one comfortably-sized parquet file), capped at the
    # bucket count. A 10k-row micro-batch merge should not pay 64 task
    # launches + commits to write 2 MB; a 100 TB rewrite still gets the
    # full n_buckets of parallelism.
    TARGET_WRITE_BYTES = 64 << 20
    # ...but bytes alone under-parallelize the FILE-CREATION cost: a merge
    # touching B buckets writes B files no matter how few tasks run, and a
    # single task creates them sequentially (open/encode/commit each). A
    # 1M-event micro-batch's winner delta is ~1 MB → 1 task by bytes →
    # 64 sequential file commits, which profiling showed was ~2/3 of the
    # whole merge phase. So tasks also scale with the affected-bucket
    # count: at most this many bucket files per write task.
    FILES_PER_WRITE_TASK = 4

    # merge policy: append merge-on-read deltas while every
    # affected bucket's stack is shallower than MOR_MAX_STACK and the
    # delta is no bigger than max(one target file, affected-base-bytes /
    # MOR_COMPACT_RATIO); otherwise copy-on-write (which folds the stack).
    MOR_MAX_STACK = 8
    MOR_COMPACT_RATIO = 8

    def _write_delta(self, df: DataFrame, snap: dict, est_bytes: int) -> tuple[str, int, dict]:
        """Write a merge-on-read delta for the commit after ``snap``, typed
        to its schema (:meth:`TableSchema.typed`), as a
        handful of bucket-RANGE files (no ``partitionBy``), tagged with
        the ``_bucket`` and ``_seq`` layout columns: rows sorted by
        ``(_bucket, key)`` so parquet row-group stats prune
        bucket-filtered reads. A micro-batch delta lands in ~1 task and
        ~1 file instead of one file per affected bucket dir — profiling
        showed the 64 per-dir file commits were the dominant cost of
        small CoW merges. The write carries one Observation (no extra
        job) of the bucket set it wrote (``buckets``) and, on a table
        recording an ``order_column``, of its least and greatest order
        value (``lo``, ``hi``) and count of null ones (``nulls``).
        Returns (directory, bytes, observed)."""
        v, n_buckets, key = snap["version"] + 1, snap["n_buckets"], snap["key_column"]
        ddir = os.path.join(self.path, self.DATA, f"d{v}-{uuid.uuid4().hex[:8]}")
        tasks = max(1, min(n_buckets, -(-(est_bytes or 1) // self.TARGET_WRITE_BYTES)))
        stats = [F.collect_set("_bucket").alias("buckets")]
        order = snap.get("order_column")
        if order is not None:
            o = F.col(order)
            stats += [
                F.min(o).alias("lo"),
                F.max(o).alias("hi"),
                F.count(F.when(o.isNull(), 1)).alias("nulls"),
            ]
        obs = Observation(f"delta-{v}-{uuid.uuid4().hex[:8]}")
        (
            TableSchema.from_json(snap["schema"])
            .typed(df)
            .withColumn("_bucket", bucket_expr(F.col(key), n_buckets))
            .withColumn("_seq", F.lit(v).cast(DELTA_LAYOUT["_seq"].dataType))
            .observe(obs, *stats)
            .repartition(tasks, "_bucket")
            .sortWithinPartitions("_bucket", key)
            .write.parquet(ddir)
        )
        return ddir, self._dir_bytes(ddir), obs.get

    def _bucketed(
        self,
        df: DataFrame,
        snap: dict,
        est_bytes: int | None = None,
        n_files_hint: int | None = None,
    ) -> DataFrame:
        """``df`` typed to ``snap``'s schema (:meth:`TableSchema.typed`)
        and hash-repartitioned on its ``_bucket`` under ``snap``'s layout
        (``n_buckets``, key column): every bucket's rows in exactly ONE
        task → one file per bucket (bounded small-file count at scale).
        The task COUNT adapts to ``est_bytes`` (output-size estimate) so
        tiny merges don't pay per-task overhead for empty shares."""
        n_buckets = snap["n_buckets"]
        tasks = n_buckets
        if est_bytes is not None:
            by_bytes = -(-est_bytes // self.TARGET_WRITE_BYTES)
            by_files = -(-(n_files_hint or 1) // self.FILES_PER_WRITE_TASK)
            tasks = max(1, min(n_buckets, max(by_bytes, by_files)))
        return (
            TableSchema.from_json(snap["schema"])
            .typed(df)
            .withColumn("_bucket", bucket_expr(F.col(snap["key_column"]), n_buckets))
            .repartition(tasks, "_bucket")
        )

    def _write_buckets(self, df: DataFrame, snap: dict) -> dict[str, dict]:
        """Write ``df`` — table rows plus their ``_bucket``, partitioned by
        :meth:`_bucketed` — as the files of the commit after ``snap``;
        return the bucket -> ``{path, schema_version, bytes}`` entries."""
        snap_dir = os.path.join(
            self.path, self.DATA, f"s{snap['version'] + 1}-{uuid.uuid4().hex[:8]}"
        )
        (
            # sort by (_bucket, key): a task holding several buckets writes
            # each partition dir in one sequential run instead of churning
            # open files across interleaved buckets
            df.sortWithinPartitions("_bucket", snap["key_column"])
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(snap_dir)
        )
        sv = snap["schema"]["version"]
        out: dict[str, dict] = {}
        for name in os.listdir(snap_dir):
            if name.startswith("_bucket="):
                p = os.path.join(snap_dir, name)
                out[name.split("=", 1)[1]] = {
                    "path": p, "schema_version": sv, "bytes": self._dir_bytes(p)
                }
        return out

    @staticmethod
    def _dir_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _dirs, fs in os.walk(path)
            for f in fs
        )

    def overwrite(
        self,
        df: DataFrame,
        expected_version: int | None = None,
        properties_update: dict | None = None,
        pre_commit=None,
        n_buckets: int | None = None,
    ) -> None:
        """Replace the whole table content (seeding, DML, rebucket).

        ``expected_version``: the snapshot version ``df`` was derived
        from. Callers that compute ``df`` from ``self.read()``
        (delete_where, update_where, rebucket) MUST pass the version they
        read at — otherwise a concurrent commit landing between their
        read and this overwrite would be silently erased (this method's
        own snapshot() would see the newer version, pass the optimistic
        check, and commit stale data over it). With it, the race surfaces
        as CommitConflict and the caller retries against fresh state.

        ``properties_update`` rides in the SAME commit and ``pre_commit``
        runs durably before it — the same exactly-once contract
        :meth:`merge` gives the CDC engine (the watermark and the side
        outputs it references commit atomically with the data), used by
        the snapshot-bootstrap path.
        ``n_buckets`` lays the content out under a new bucket count in
        the same commit (:meth:`rebucket`)."""
        snap = self.snapshot()
        v = snap["version"]
        if expected_version is not None and v != expected_version:
            raise CommitConflict(
                f"table advanced to v{v} since read at v{expected_version}"
            )
        if n_buckets is not None:
            snap["n_buckets"] = n_buckets
        names = TableSchema.from_json(snap["schema"]).names()
        add = self._write_buckets(self._bucketed(df.select(*names), snap), snap)
        self._publish(
            snap,
            add,
            pre_commit=pre_commit,
            properties_update=properties_update,
            replace_all=True,
        )

    # ---------- MERGE ----------

    def merge(
        self,
        delta: DataFrame,
        properties_update: dict | None = None,
        delta_rows: int | None = None,
        affected_buckets: list[int] | None = None,
        delta_bytes: int | None = None,
        pre_commit=None,
        max_stack: int | None = None,
    ) -> None:
        """Bucket-pruned keyed upsert of ``delta`` into the current state
        of the *affected buckets only*.

        ``delta`` holds rows named by table columns: the key column, the
        recorded ``order_column`` when the table has one, and **at most
        one row per key** (run LWW dedup first). A delta row replaces its
        key's stored row when the key is absent, the table records no
        order column, or the row's order value is strictly greater; it
        sets the columns it carries, and the columns it lacks keep the
        stored value (null for a new key). A column the table lacks, or
        a missing key or order column, raises ``ValueError`` before
        anything is written.

        ``affected_buckets``, when supplied, must be a superset of the
        buckets ``delta`` hashes into under ``bucket_expr`` — the merge
        only reads those buckets, and a missed bucket would be replaced by
        delta-only contents (silently erasing its prior rows). The invariant
        is enforced post-write: any output bucket outside the set aborts
        the commit.

        No join is planned: a copy-on-write merge resolves the rule with
        :meth:`_resolve`'s one per-key aggregate under the ``_bucket``
        repartition its write needs anyway — one exchange, no broadcast.
        Unaffected buckets are carried forward by reference — no read,
        no write.

        The physical commit strategy is the lake's own decision:

        - **merge-on-read** append: the delta is written ONCE, typed, as
          a few bucket-sorted delta files, and appended to the delta
          stacks of exactly the buckets its write observed. The base is
          neither read nor rewritten: a micro-batch merge costs O(delta)
          I/O instead of O(affected buckets) — at 100 TB that is the
          difference between a commit that writes megabytes and one
          that rewrites the table's hot buckets every 10 seconds.
          :meth:`read` resolves the stack. Chosen while the delta is
          small (≤ max(one target file, affected-base-bytes /
          ``MOR_COMPACT_RATIO``)), every affected stack is shallower than
          ``MOR_MAX_STACK``, no stacked delta in an affected bucket
          carries a column this one lacks (the read would fall back past
          its value to the base) and — on a table recording an
          ``order_column`` — the delta has no null order value and its
          least one is strictly greater than the ``order_max`` every
          item stacked in its buckets records, so its rows are newer
          than every row stacked under them.
        - **copy-on-write** otherwise: the affected buckets' base rows,
          their stacked deltas and this delta are resolved together and
          rewritten. This FOLDS
          the accumulated stack back into the base — compaction happens
          as a natural consequence of the policy, no separate scheduler
          needed. A delta written for an append and then refused by its
          observed order range is removed first.

        ``max_stack`` overrides ``MOR_MAX_STACK`` for this call. The
        cap bounds STORED bytes, not read cost: the stack keeps a key's
        superseded rows next to its base row until the fold, so a deeper
        cap holds more dead bytes per live row. Measured on the serve
        benchmark (2.5k-event batches, vocab on), stacking to the default
        8 instead of 3 folded less often but raised
        ``lake_bytes_per_live_doc`` from 214.8 to 246.9 B (+15 %, past
        that metric's 0.1 bound); the CDC engine passes 3 when
        ``maintain_vocab=True``.

        ``pre_commit``, when given, is invoked after all data is written
        but immediately before the snapshot commit, on every exit path
        that commits. If it raises, the merge aborts uncommitted (the
        written files are unreferenced stragglers swept by GC). Lets a
        caller overlap side-work with the merge's compute while still
        ordering it strictly before the commit — the CDC engine joins
        its quarantine finalize and vocab stage here, so both are
        durable before the commit that moves the watermark and
        references the new vocab (``properties_update``).
        """
        snap = self.snapshot()
        v = snap["version"]
        key, order = snap["key_column"], snap.get("order_column")
        n_buckets = snap["n_buckets"]
        cur = TableSchema.from_json(snap["schema"])
        by_name = cur.by_name()
        unknown = sorted(set(delta.columns) - set(by_name))
        missing = [c for c in (key, order) if c is not None and c not in delta.columns]
        if unknown or missing:
            raise ValueError(
                f"merge delta names columns the table lacks {unknown} "
                f"or lacks the key/order columns {missing}"
            )

        # callers that already know the delta's bucket set (the CDC engine
        # folds it into the LWW stats job) skip this extra Spark job
        affected = (
            [int(b) for b in affected_buckets]
            if affected_buckets is not None
            else [
                r[0]
                for r in delta.select(bucket_expr(F.col(key), n_buckets)).distinct().collect()
            ]
        )
        if not affected:
            if properties_update:
                self._publish(
                    snap, {}, pre_commit=pre_commit, properties_update=properties_update
                )
            elif pre_commit is not None:
                pre_commit()
            return

        # delta-size estimate: caller-supplied bytes from its staged
        # files, else a row-count heuristic; gates the MOR policy and
        # the write-task count
        if delta_bytes is not None:
            est_delta = delta_bytes
        else:
            est_delta = (delta_rows if delta_rows is not None else delta.count()) * 512
        aff_files = self._files_load(snap, affected)
        aff_bytes = sum(
            self._entry_bytes(aff_files[str(b)]) for b in affected if str(b) in aff_files
        )
        stacked = {b: aff_files.get(str(b), {}).get("deltas") or [] for b in affected}
        stack = max(map(len, stacked.values()), default=0)
        cap = max_stack if max_stack is not None else self.MOR_MAX_STACK
        use_mor = stack < cap and est_delta <= max(
            self.TARGET_WRITE_BYTES, aff_bytes // self.MOR_COMPACT_RATIO
        )
        # a stacked delta carrying a column this one lacks (the read would
        # fall back past its value to the base) or, on an ordered table,
        # recording no order bound (it may hold rows newer than this
        # delta's): fold instead, before writing anything
        ids = {by_name[c].id for c in delta.columns}
        use_mor = use_mor and not any(
            set(d.get("column_ids", ())) - ids or (order is not None and "order_max" not in d)
            for ds in stacked.values()
            for d in ds
        )

        if use_mor:
            ddir, dbytes, seen = self._write_delta(delta, snap, est_delta)
            wrote = sorted(seen["buckets"])
            # an undeclared bucket's rows would sit in the shared file with
            # no entry referencing them — silent row loss
            stray = set(wrote) - set(affected)
            if stray:
                shutil.rmtree(ddir, ignore_errors=True)
                raise ValueError(
                    f"merge delta contains undeclared buckets {sorted(stray)}; "
                    "affected_buckets is not a superset — aborting before "
                    "commit to avoid unreferenced (lost) rows"
                )
            # the read resolves each key to its newest delta row, so a
            # delta stacks only above every order value stacked under it
            stacks = order is None or (
                seen["nulls"] == 0
                and all(seen["lo"] > d["order_max"] for b in wrote for d in stacked[b])
            )
            if not stacks or not wrote:
                shutil.rmtree(ddir, ignore_errors=True)
            if stacks:
                item = {
                    "path": ddir,
                    "schema_version": cur.version,
                    "seq": v + 1,
                    "bytes": dbytes,
                    "share_bytes": -(-dbytes // max(1, len(wrote))),
                    "column_ids": [by_name[nm].id for nm in delta.columns],
                }
                if order is not None and type(seen["hi"]) in (int, float):
                    item["order_max"] = seen["hi"]
                add = {}
                for b in wrote:
                    e = dict(
                        aff_files.get(str(b))
                        or {"path": None, "schema_version": cur.version, "bytes": 0}
                    )
                    e["deltas"] = list(e.get("deltas", [])) + [item]
                    add[str(b)] = e
                self._publish(
                    snap, add, pre_commit=pre_commit, properties_update=properties_update
                )
                return

        # the incoming rows as the table's columns: null for the ones the
        # delta does not carry (a new key's; a stored key's keep theirs)
        incoming = cur.typed(delta).select(
            *[F.col(c.name) if c.name in delta.columns else F.lit(None).cast(c.type).alias(c.name)
              for c in cur.columns]
        )
        base, stack, sets, _ = self._layers(snap, cur, affected)
        est = {"est_bytes": aff_bytes + est_delta, "n_files_hint": len(affected)}
        if base is None and not stack:
            # all-fresh buckets (first load): nothing to resolve against
            merged = self._bucketed(incoming, snap, **est)
        else:
            layers = stack + [
                incoming.select(F.lit(-1).alias("_seq"), F.lit(len(sets)).alias("_tag"), "*")
            ]
            if base is not None:
                layers.append(self._base_layer(base))
            rows = self._bucketed(reduce(DataFrame.unionByName, layers), snap, **est)
            merged = self._resolve(snap, rows, sets + [ids], fold=True)
        add = self._write_buckets(merged, snap)
        # Enforce the affected_buckets superset invariant (docstring): if
        # the delta wrote a bucket the caller didn't declare, committing
        # would drop that bucket's prior rows (files[b] replaced by a
        # delta-only file). Cheap driver-side check; abort, don't commit.
        stray = set(add) - {str(b) for b in affected}
        if stray:
            raise ValueError(
                f"merge wrote undeclared buckets {sorted(stray)}; "
                f"affected_buckets={sorted(affected)} is not a superset — "
                "aborting before commit to avoid erasing prior rows"
            )
        self._publish(
            snap,
            add,
            remove=affected,
            pre_commit=pre_commit,
            properties_update=properties_update,
        )

    # ---------- change feed ----------

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two snapshots — the lake table
        EMITS a changelog, not just consumes one (the Iceberg
        changelog-read / Delta CDF shape): one row per key whose logical
        state differs between ``v_from`` and ``v_to``, with ``change_op``
        in {insert, update, delete}. Inserts/updates carry the after-image
        in the v_to schema; deletes carry the before-image (reconciled to
        the v_to schema by column id, so mid-stream renames/widens never
        misalign the two sides).

        Rows flagged in the ``tombstone_column`` ``v_to`` records are
        logically dead on either side, so a key whose row turns into a
        tombstone is a delete. On a table that records an
        ``order_column`` an update is emitted only if the key's order
        value advanced — exactly when a merge replaced the row; without
        one, updates fall back to any-column value inequality.

        Scale shape: the manifest diff prunes the scan to buckets whose
        file entries differ between the two snapshots — a micro-batch's
        worth of drift reads O(affected buckets), never the table. The
        keyed diff is a full-outer join; both sides are identically
        hash-bucketed, so on a catalog that can declare the bucket
        transform (real Iceberg + storage-partitioned joins) the shuffle
        disappears — here it shuffles only the pruned buckets. A
        rebucket between the versions invalidates bucket-id comparison;
        the diff then falls back to all buckets (correct, just unpruned).
        """
        snap_from = self.snapshot(v_from)
        snap_to = self.snapshot(v_to)
        if v_to is None:
            v_to = snap_to["version"]
        if v_from > v_to:
            raise ValueError(f"v_from {v_from} > v_to {v_to}")
        sch_to = TableSchema.from_json(snap_to["schema"])
        key, order = snap_to["key_column"], snap_to.get("order_column")
        tomb = snap_to.get("tombstone_column")

        buckets = None
        if snap_from["n_buckets"] == snap_to["n_buckets"]:
            f_old = self._files_load(snap_from)
            f_new = self._files_load(snap_to)
            buckets = [
                int(b)
                for b in sorted(set(f_old) | set(f_new), key=int)
                if f_old.get(b) != f_new.get(b)
            ]
            if not buckets:
                fields = sch_to.struct_type().fields
                return self.spark.createDataFrame(
                    [],
                    T.StructType(
                        [T.StructField("change_op", T.StringType(), False)]
                        + [f for f in fields if f.name == key]
                        + [f for f in fields if f.name != key]
                    ),
                )

        new = self.read(buckets=buckets, as_of_version=v_to)
        old = self.read(buckets=buckets, as_of_version=v_from)
        # align the v_from side to the v_to schema by column id
        old = old.select(*self._by_id(sch_to, TableSchema.from_json(snap_from["schema"])))

        def live(side: DataFrame) -> Column:
            return F.lit(True) if tomb is None else ~F.coalesce(side[tomb], F.lit(False))

        data_cols = [c.name for c in sch_to.columns if c.name != key]
        o = old.select(
            F.col(key).alias("__k"),
            live(old).alias("__o_live"),
            F.struct(*data_cols).alias("__before"),
        )
        n = new.select(
            F.col(key).alias("__k"),
            live(new).alias("__n_live"),
            F.struct(*data_cols).alias("__after"),
        )
        j = o.join(n, on="__k", how="full_outer")
        o_live = F.coalesce("__o_live", F.lit(False))
        n_live = F.coalesce("__n_live", F.lit(False))
        if order is not None:
            advanced = F.col(f"__after.{order}") > F.col(f"__before.{order}")
        else:
            # null-safe: a null field inside either image must read as a
            # difference, not null out the whole predicate
            advanced = ~F.col("__after").eqNullSafe(F.col("__before"))
        op = (
            F.when(~o_live & n_live, F.lit("insert"))
            .when(o_live & ~n_live, F.lit("delete"))
            .when(o_live & n_live & advanced, F.lit("update"))
        )
        img = F.when(op == "delete", F.col("__before")).otherwise(F.col("__after"))
        return (
            j.select(op.alias("change_op"), F.col("__k").alias(key), img.alias("__i"))
            .filter(F.col("change_op").isNotNull())
            .select("change_op", key, *[F.col(f"__i.{c}").alias(c) for c in data_cols])
        )

    # ---------- DML (the reference's raw-JDBC UPDATE/DELETE side-channel,
    # S7, as snapshot-atomic table ops — `spark.sql("UPDATE/DELETE")` on
    # Iceberg would be the cluster equivalent) ----------

    def _dml_snapshot(self) -> dict:
        """The snapshot a DML op reads at, refusing a table that records a
        tombstone column: a physical delete leaves no tombstone for
        readers and expiry, and derived state (the CDC vocab) drifts."""
        snap = self.snapshot()
        if snap.get("tombstone_column") is not None:
            raise ValueError(
                f"this table records tombstone column {snap['tombstone_column']!r}: "
                "delete or change its rows with corrective change events "
                "through CdcEngine.apply_batch, not DML"
            )
        return snap

    def delete_where(self, cond: Column) -> None:
        """Delete rows matching ``cond`` — one read, one bucketed rewrite,
        one atomic snapshot swap. A general predicate can touch any
        bucket, so this is a full rewrite by design; key-scoped deletes
        should go through the CDC delete op instead (bucket-pruned,
        tombstoned, LSN-guarded). Refused on a table with a tombstone
        column (:meth:`_dml_snapshot`)."""
        v = self._dml_snapshot()["version"]
        self.overwrite(
            self.read().filter(~F.coalesce(cond, F.lit(False))), expected_version=v
        )

    def update_where(self, cond: Column, assignments: dict[str, Column]) -> None:
        """UPDATE ... SET assignments WHERE cond, snapshot-atomic. Same
        full-rewrite caveat and refusal as :meth:`delete_where`; the CDC
        path is the scalable route for keyed updates."""
        snap = self._dml_snapshot()
        names = TableSchema.from_json(snap["schema"]).names()
        unknown = set(assignments) - set(names)
        if unknown:
            raise ValueError(f"unknown columns in assignments: {sorted(unknown)}")
        v = snap["version"]
        df = self.read()
        c = F.coalesce(cond, F.lit(False))
        updated = df.select(
            *[
                (F.when(c, assignments[n]).otherwise(F.col(n)).alias(n)
                 if n in assignments else F.col(n))
                for n in names
            ]
        )
        self.overwrite(updated, expected_version=v)

    # ---------- schema evolution (metadata-only, like Iceberg) ----------

    def apply_schema_change(
        self,
        change: dict,
        lsn: int | None = None,
        properties_update: dict | None = None,
    ) -> None:
        """Apply one ``{"action": add_column|rename_column|widen_type, ...}``
        event transactionally (new snapshot, zero data rewrite).

        ``properties_update`` rides in the SAME commit — the CDC engine
        passes its LSN watermark here so there is no crash window between
        "schema committed" and "watermark advanced" (a watermark behind a
        committed DDL would re-deliver the DDL event, and add/rename/widen
        are not idempotent: the retry errors forever and wedges the
        stream).

        Mirrors the reference's dd_attribute_detail-driven renames
        (``/root/reference/repomix-output.xml:7637-7649``) as real DDL.
        """
        snap = self.snapshot()
        cur = TableSchema.from_json(snap["schema"])
        action = change["action"]
        cols = {c.name: c for c in cur.columns}
        # '_bucket' is the layout partition column _bucketed injects
        # (a user column by that name would be silently overwritten with
        # hash-bucket ids on the next rewrite); '_seq'/'_tag' are the MOR
        # delta columns _layers selects alongside the user columns (a
        # user column by either name makes the MOR read's select ambiguous
        # and every read of a delta-carrying table fail). Reject the DDL.
        introduced = {"add_column": change.get("name"),
                      "rename_column": change.get("new_name")}.get(action)
        if introduced in LAYOUT_RESERVED:
            raise ValueError(
                f"{action} introducing reserved layout column {introduced!r} rejected"
            )
        if action == "add_column":
            if change["name"] in cols:
                raise ValueError(f"column exists: {change['name']}")
            next_id = max(c.id for c in cur.columns) + 1
            new_cols = cur.columns + [SchemaColumn(next_id, change["name"], change["type"])]
        elif action == "rename_column":
            if change["name"] not in cols:
                raise ValueError(f"no such column: {change['name']}")
            if change["new_name"] in cols:
                raise ValueError(f"target name exists: {change['new_name']}")
            new_cols = [
                SchemaColumn(c.id, change["new_name"] if c.name == change["name"] else c.name, c.type)
                for c in cur.columns
            ]
            for role in ROLES:
                if snap.get(role) == change["name"]:
                    snap[role] = change["new_name"]
        elif action == "widen_type":
            c = cols.get(change["name"])
            if c is None:
                raise ValueError(f"no such column: {change['name']}")
            if (c.type, change["type"]) not in _WIDEN_OK:
                raise ValueError(f"illegal widen {c.type} -> {change['type']}")
            new_cols = [
                SchemaColumn(x.id, x.name, change["type"] if x.name == change["name"] else x.type)
                for x in cur.columns
            ]
        else:
            raise ValueError(f"unknown schema action: {action}")
        new_schema = TableSchema(version=cur.version + 1, columns=new_cols)
        snap["schema"] = new_schema.to_json()
        snap["schema_versions"][str(new_schema.version)] = new_schema.to_json()
        snap["schema_log"].append({"lsn": lsn, "change": change})
        self._publish(snap, {}, properties_update=properties_update)

    # ---------- maintenance ----------

    def rebucket(self, n_buckets: int) -> None:
        """Migrate the table to a new hash-bucket count (SCALE.md §2: a
        table seeded at 16 buckets must be able to grow into 10⁵ without a
        new table). One read → one bucketed rewrite under the NEW layout →
        one atomic snapshot commit that swaps ``n_buckets`` and the full
        file list together, so readers/mergers never observe a mixed
        layout. Concurrent writers lose the optimistic version check
        (CommitConflict) rather than corrupting the layout.

        At 100 TB this is a full-table rewrite — the point is that it is
        ONE linear, shuffle-once job (repartition on the new bucket id,
        one file per bucket) that can run as maintenance, after which
        every MERGE prunes against the new layout; without it the bucket
        count is frozen at table create.
        """
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        v = self.current_version()
        self.overwrite(self.read(), expected_version=v, n_buckets=n_buckets)

    def expire_snapshots(self, keep_last: int = 2, grace_seconds: float = 600.0) -> dict:
        """Metadata + data garbage collection (Iceberg's
        ``expireSnapshots`` + ``deleteOrphanFiles`` in one pass).

        Every commit writes a new snapshot JSON and new files only for the
        buckets it touched; nothing is ever deleted on the write path (that
        is what makes commits atomic and readers isolated) — so a
        long-running table accumulates one JSON per commit plus superseded
        bucket directories, and a crashed writer can leave a data dir no
        snapshot references. This op deletes (a) snapshot files older than
        the ``keep_last`` most recent and (b) any data directory not
        referenced by a KEPT snapshot — through its file map or its
        properties (:meth:`_property_dirs`) — which collects
        crashed-writer orphans too. Time travel below the horizon is
        gone afterwards, by design. Single-writer op, like all
        maintenance here.

        Chunked-manifest tables get the same treatment at the metadata
        layer: manifest chunk files under ``_meta/manifests/`` not
        referenced by any KEPT snapshot's manifest list are deleted too
        (superseded chunks accumulate one per touched chunk per commit,
        exactly like superseded bucket dirs).

        Returns ``{"snapshots_deleted": n, "data_dirs_deleted": n,
        "manifests_deleted": n}``.

        ``grace_seconds``: an unreferenced data dir younger than this is
        SKIPPED — a young unreferenced dir is the signature of a
        concurrent writer's in-flight (written-but-not-yet-committed)
        output, which this GC must not collect even though the op is
        documented single-writer (jobs/maintain.py bundles it with
        quarantine compaction, which IS live-safe, so a combined run
        against a live ingester must fail safe, not break its commit).
        Crashed-writer orphans are collected on a later run once they age
        past the window; pass ``grace_seconds=0`` only with the ingester
        provably stopped.
        """
        v = self.current_version()
        keep_from = max(0, v - max(1, keep_last) + 1)
        # data roots referenced by kept snapshots (files map references
        # .../s{N}-{uuid}/_bucket=K; the deletable unit is the s* root)
        referenced: set[str] = set()
        kept_versions = []
        for name in os.listdir(self._meta_dir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            ver = int(name[1:-5])
            if ver >= keep_from:
                kept_versions.append(ver)
        referenced_manifests: set[str] = set()
        for ver in kept_versions:
            snap = self.snapshot(ver)
            referenced_manifests.update(
                c["file"] for c in snap.get("manifest_list", [])
            )
            # _files_load, not snap["files"]: a chunked snapshot keeps its
            # file map in manifest chunks — reading the inline key alone
            # would see ZERO references and collect every live data dir
            for entry in self._files_load(snap).values():
                if entry.get("path"):
                    referenced.add(os.path.dirname(os.path.abspath(entry["path"])))
                # merge-on-read delta dirs live directly under data/
                # (d{N}-{uuid}) and are the deletable unit themselves
                for d in entry.get("deltas", []):
                    referenced.add(os.path.abspath(d["path"]))
            referenced.update(self._property_dirs(snap))

        snaps_deleted = 0
        for name in list(os.listdir(self._meta_dir)):
            if name.startswith("v") and name.endswith(".json"):
                ver = int(name[1:-5])
                if ver < keep_from:
                    os.remove(os.path.join(self._meta_dir, name))
                    snaps_deleted += 1

        data_root = os.path.join(self.path, self.DATA)
        dirs_deleted = 0
        now = time.time()
        if os.path.isdir(data_root):
            for name in list(os.listdir(data_root)):
                p = os.path.abspath(os.path.join(data_root, name))
                if p in referenced:
                    continue
                try:
                    # too young to distinguish from an in-flight commit
                    if now - os.path.getmtime(p) < grace_seconds:
                        continue
                except OSError:
                    continue  # vanished under us — a writer owns it
                shutil.rmtree(p, ignore_errors=True)
                dirs_deleted += 1

        # manifest chunk GC — same grace rule: a chunk file is written
        # BEFORE its commit, so a young unreferenced chunk may belong to
        # an in-flight writer and must survive this pass
        manifests_deleted = 0
        mdir = os.path.join(self._meta_dir, self.MANIFESTS)
        if os.path.isdir(mdir):
            for name in list(os.listdir(mdir)):
                if name in referenced_manifests:
                    continue
                p = os.path.join(mdir, name)
                try:
                    if now - os.path.getmtime(p) < grace_seconds:
                        continue
                    os.remove(p)
                    manifests_deleted += 1
                except OSError:
                    continue
        return {
            "snapshots_deleted": snaps_deleted,
            "data_dirs_deleted": dirs_deleted,
            "manifests_deleted": manifests_deleted,
        }

    def compact(self, expire_tombstones_below_lsn: int | None = None) -> None:
        """Rewrite all buckets under the current schema version.

        ``expire_tombstones_below_lsn`` also drops every tombstone (a row
        flagged in the recorded ``tombstone_column``) whose value in the
        recorded ``order_column`` is below it: safe once no change with a
        lower order value can arrive again (the CDC engine passes its
        applied watermark + 1). The same commit records the fence
        ``tombstones_expired_below``, the greatest bound any expiry used.
        A change below the fence admitted later could resurrect a key
        whose tombstone is gone, so the CDC engine's requeue refuses
        those. A table recording no tombstone or order column raises.

        Concurrency: commits against the version it read at, so a
        concurrent ingester commit surfaces as CommitConflict rather than
        being silently erased."""
        snap = self.snapshot()
        df = self.read()
        if expire_tombstones_below_lsn is not None:
            tomb, order = snap.get("tombstone_column"), snap.get("order_column")
            if tomb is None or order is None:
                raise ValueError(
                    "tombstone expiry needs a recorded tombstone column and order "
                    f"column; this table records {tomb!r} and {order!r}"
                )
            df = df.filter(
                ~F.coalesce(F.col(tomb), F.lit(False))
                | (F.col(order) >= F.lit(expire_tombstones_below_lsn))
            )
            snap["tombstones_expired_below"] = max(
                expire_tombstones_below_lsn, snap.get("tombstones_expired_below", 0)
            )
        names = TableSchema.from_json(snap["schema"]).names()
        add = self._write_buckets(self._bucketed(df.select(*names), snap), snap)
        self._publish(snap, add, replace_all=True)
