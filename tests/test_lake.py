"""LakeTable: atomic snapshots, bucket-pruned merge, metadata-only schema
evolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_standardization_etl_spark.lake.table import CommitConflict, LakeTable

COLS = [("doc_id", "string"), ("v", "int"), ("last_lsn", "bigint"), ("deleted", "boolean")]


def make(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, COLS, key_column="doc_id", n_buckets=n_buckets, order_column="last_lsn"
    )


def seed(spark, t, rows):
    df = spark.createDataFrame(rows, "doc_id string, v int, last_lsn long, deleted boolean")
    t.overwrite(df)


def test_create_read_empty(spark, tmp_table_dir):
    t = make(spark, tmp_table_dir)
    assert t.current_version() == 0
    assert t.read().count() == 0
    assert t.schema().names() == ["doc_id", "v", "last_lsn", "deleted"]


def test_create_refuses_roles_that_name_no_column(spark, tmp_path):
    """Each recorded role must name a declared column, and the tombstone
    column must be boolean; otherwise create raises before writing
    anything."""
    bad = [
        {"key_column": "kk"},
        {"key_column": "doc_id", "order_column": "nope"},
        {"key_column": "doc_id", "tombstone_column": "nope"},
        {"key_column": "doc_id", "tombstone_column": "v"},  # int
    ]
    for i, roles in enumerate(bad):
        path = tmp_path / f"t{i}"
        with pytest.raises(ValueError):
            LakeTable.create(spark, str(path), COLS, **roles)
        assert not path.exists()
    t = LakeTable.create(
        spark, str(tmp_path / "ok"), COLS, key_column="doc_id",
        order_column="last_lsn", tombstone_column="deleted",
    )
    snap = t.snapshot()
    assert [snap[r] for r in ("key_column", "order_column", "tombstone_column")] == [
        "doc_id", "last_lsn", "deleted"
    ]


def test_overwrite_and_read(spark, tmp_table_dir):
    t = make(spark, tmp_table_dir)
    seed(spark, t, [(f"d{i}", i, 1, False) for i in range(100)])
    assert t.current_version() == 1
    got = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert got == {f"d{i}": i for i in range(100)}


def test_merge_updates_only_affected_buckets(spark, tmp_table_dir):
    t = make(spark, tmp_table_dir, n_buckets=8)
    seed(spark, t, [(f"d{i}", i, 1, False) for i in range(200)])
    files_before = dict(t.snapshot()["files"])
    delta = spark.createDataFrame([("d5", 999, 2)], "doc_id string, v int, last_lsn long")
    t.merge(delta)
    files_after = t.snapshot()["files"]
    changed = [b for b in files_after if files_after[b] != files_before.get(b)]
    assert len(changed) == 1  # only d5's bucket rewritten
    got = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert got["d5"] == 999 and got["d6"] == 6 and len(got) == 200


def test_snapshot_isolation_and_conflict(spark, tmp_table_dir):
    t = make(spark, tmp_table_dir)
    seed(spark, t, [("a", 1, 1, False)])
    snap = t.snapshot()
    t2 = LakeTable(spark, tmp_table_dir)
    seed(spark, t2, [("a", 2, 2, False)])  # concurrent writer commits v2
    with pytest.raises(CommitConflict):
        t._commit(snap, snap["version"])  # stale expected version


def test_schema_evolution_metadata_only(spark, tmp_table_dir):
    t = make(spark, tmp_table_dir)
    seed(spark, t, [(f"d{i}", i, 1, False) for i in range(10)])
    files_v1 = dict(t.snapshot()["files"])

    t.apply_schema_change({"action": "add_column", "name": "extra", "type": "string"}, lsn=100)
    t.apply_schema_change({"action": "rename_column", "name": "v", "new_name": "value"}, lsn=101)
    t.apply_schema_change({"action": "widen_type", "name": "value", "type": "bigint"}, lsn=102)

    # zero data rewrite
    assert t.snapshot()["files"] == files_v1
    df = t.read()
    assert dict(df.dtypes)["value"] == "bigint"
    assert dict(df.dtypes)["extra"] == "string"
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows["d3"]["value"] == 3 and rows["d3"]["extra"] is None

    # illegal operations
    with pytest.raises(ValueError):
        t.apply_schema_change({"action": "widen_type", "name": "doc_id", "type": "int"})
    with pytest.raises(ValueError):
        t.apply_schema_change({"action": "rename_column", "name": "nope", "new_name": "x"})


def test_mixed_schema_versions_union(spark, tmp_table_dir):
    """Files written before and after a rename+widen must reconcile by id."""
    t = make(spark, tmp_table_dir, n_buckets=2)
    seed(spark, t, [("old1", 1, 1, False), ("old2", 2, 1, False)])
    t.apply_schema_change({"action": "rename_column", "name": "v", "new_name": "value"})
    t.apply_schema_change({"action": "widen_type", "name": "value", "type": "bigint"})

    delta = spark.createDataFrame(
        [("new1", 10_000_000_000, 2)], "doc_id string, value long, last_lsn long"
    )
    t.merge(delta)
    got = {r["doc_id"]: r["value"] for r in t.read().collect()}
    assert got == {"old1": 1, "old2": 2, "new1": 10_000_000_000}


def test_time_travel_and_history(spark, tmp_path):
    """Iceberg-parity metadata: read(as_of_version=) reproduces an earlier
    snapshot bitwise; history() lists the commit chain."""
    from file_standardization_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "bigint")], key_column="k",
        n_buckets=4,
    )
    t.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v bigint"))
    v1 = t.current_version()
    t.merge(spark.createDataFrame([("b", 20), ("c", 30)], "k string, v bigint"))
    v2 = t.current_version()
    assert v2 == v1 + 1

    now = {(r["k"], r["v"]) for r in t.read().collect()}
    assert now == {("a", 1), ("b", 20), ("c", 30)}
    then = {(r["k"], r["v"]) for r in t.read(as_of_version=v1).collect()}
    assert then == {("a", 1), ("b", 2)}

    hist = t.history()
    assert [h["version"] for h in hist] == list(range(0, v2 + 1))
    assert hist[-1]["n_files"] >= hist[v1]["n_files"]


def test_failed_commit_leaves_table_unchanged_and_gc_collects(spark, tmp_path):
    """Atomicity under a crash between data write and commit: the reader
    still sees the old version; the half-written files are unreferenced
    and expire_snapshots collects them."""
    import os

    import pytest as _pytest

    from file_standardization_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "bigint")],
        key_column="k", n_buckets=4,
    )
    t.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v bigint"))
    v1 = t.current_version()
    before = {(r["k"], r["v"]) for r in t.read().collect()}

    real_commit = t._commit

    def exploding_commit(snap, expected):
        raise RuntimeError("injected crash after data write, before commit")

    t._commit = exploding_commit
    with _pytest.raises(RuntimeError, match="injected crash"):
        t.merge(spark.createDataFrame([("b", 20)], "k string, v bigint"))
    t._commit = real_commit

    # reader: unchanged version, unchanged content
    assert t.current_version() == v1
    assert {(r["k"], r["v"]) for r in t.read().collect()} == before
    # the crashed writer's data dirs are orphans; GC removes them
    data_root = os.path.join(t.path, "data")
    n_dirs_before = len(os.listdir(data_root))
    stats = t.expire_snapshots(keep_last=10, grace_seconds=0.0)
    assert stats["data_dirs_deleted"] >= 1
    assert len(os.listdir(data_root)) < n_dirs_before
    assert {(r["k"], r["v"]) for r in t.read().collect()} == before


def test_dml_delete_and_update_where(spark, tmp_path):
    """S7 DML surface as snapshot-atomic ops: DELETE WHERE / UPDATE SET
    WHERE, with null-predicate rows treated as non-matching (SQL
    three-valued logic)."""
    from file_standardization_etl_spark.lake.table import LakeTable
    from pyspark.sql import functions as F

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "bigint"), ("tag", "string")],
        key_column="k", n_buckets=4,
    )
    t.overwrite(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 2, None), ("c", 3, "y"), ("d", 4, "x")],
            "k string, v bigint, tag string",
        )
    )
    v0 = t.current_version()

    t.delete_where(F.col("tag") == "x")  # null tag must NOT match
    assert {(r["k"], r["v"], r["tag"]) for r in t.read().collect()} == {
        ("b", 2, None), ("c", 3, "y"),
    }
    t.update_where(F.col("v") >= 3, {"v": F.col("v") * 10, "tag": F.lit("big")})
    assert {(r["k"], r["v"], r["tag"]) for r in t.read().collect()} == {
        ("b", 2, None), ("c", 30, "big"),
    }
    # both ops committed atomically as new snapshots; history intact
    assert t.current_version() == v0 + 2
    assert {(r["k"], r["v"]) for r in t.read(as_of_version=v0).collect()} == {
        ("a", 1), ("b", 2), ("c", 3), ("d", 4),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        t.update_where(F.lit(True), {"nope": F.lit(1)})

@pytest.fixture()
def small_chunks(monkeypatch):
    """Shrink the manifest thresholds so a 16-bucket table exercises the
    chunked-manifest layout (4 chunks of 4 buckets) without paying for a
    real 10^3-bucket write in tests."""
    monkeypatch.setattr(LakeTable, "MANIFEST_INLINE_MAX", 8)
    monkeypatch.setattr(LakeTable, "MANIFEST_CHUNK", 4)


def test_chunked_manifest_merge_rewrites_only_touched_chunks(
    spark, tmp_table_dir, small_chunks
):
    """High-bucket-count layout: the snapshot stores a manifest LIST, and a
    merge touching one bucket rewrites only the chunk files whose bucket
    range intersects it — every other chunk is carried forward BY
    REFERENCE (same file name), so commit metadata I/O is O(touched)."""
    t = make(spark, tmp_table_dir, n_buckets=16)
    seed(spark, t, [(f"d{i}", i, 1, False) for i in range(200)])
    snap = t.snapshot()
    assert "files" not in snap and len(snap["manifest_list"]) == 4
    assert sum(c["n"] for c in snap["manifest_list"]) == 16
    before = {c["file"] for c in snap["manifest_list"]}

    delta = spark.createDataFrame([("d5", 999, 2)], "doc_id string, v int, last_lsn long")
    t.merge(delta)
    after_list = t.snapshot()["manifest_list"]
    after = {c["file"] for c in after_list}
    assert len(after - before) == 1  # exactly one chunk rewritten
    assert len(after & before) == 3  # three carried by reference

    got = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert got["d5"] == 999 and got["d6"] == 6 and len(got) == 200
    # bucket-pruned read still resolves through the chunked map
    d5b = [r["doc_id"] for r in t.read(buckets=list(range(16))).collect()]
    assert len(d5b) == 200


def test_chunked_manifest_time_travel_history_and_gc(spark, tmp_table_dir, small_chunks):
    """history()/time-travel on a chunked table, then expire_snapshots:
    old snapshot JSONs AND their now-orphaned manifest chunk files are
    collected while every kept snapshot still reads correctly."""
    import os

    t = make(spark, tmp_table_dir, n_buckets=16)
    seed(spark, t, [(f"d{i}", i, 1, False) for i in range(50)])
    v1 = t.current_version()
    for lsn, (k, val) in enumerate([("d1", 100), ("d2", 200), ("d3", 300)], start=2):
        t.merge(spark.createDataFrame([(k, val, lsn)], "doc_id string, v int, last_lsn long"))
    v4 = t.current_version()
    assert v4 == v1 + 3
    hist = t.history()
    assert hist[-1]["n_files"] == 16 and hist[-1]["bytes"] > 0
    then = {r["doc_id"]: r["v"] for r in t.read(as_of_version=v1).collect()}
    assert then["d1"] == 1 and then["d2"] == 2

    mdir = os.path.join(t.path, "_meta", "manifests")
    n_manifests_before = len(os.listdir(mdir))
    stats = t.expire_snapshots(keep_last=2, grace_seconds=0.0)
    assert stats["snapshots_deleted"] >= 1
    assert stats["manifests_deleted"] >= 1
    assert len(os.listdir(mdir)) < n_manifests_before
    now = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert now["d1"] == 100 and now["d2"] == 200 and now["d3"] == 300 and len(now) == 50
    prev = {r["doc_id"]: r["v"] for r in t.read(as_of_version=v4 - 1).collect()}
    assert prev["d3"] == 3  # kept horizon still readable


def test_inline_to_chunked_migration_and_rebucket_back(spark, tmp_table_dir, monkeypatch):
    """A table whose snapshots are inline migrates to chunked manifests on
    the first commit after crossing the threshold, and rebucketing below
    the threshold returns it to inline — readers never notice."""
    t = make(spark, tmp_table_dir, n_buckets=16)
    seed(spark, t, [(f"d{i}", i, 1, False) for i in range(100)])
    assert "files" in t.snapshot()  # inline under the default threshold

    monkeypatch.setattr(LakeTable, "MANIFEST_INLINE_MAX", 8)
    monkeypatch.setattr(LakeTable, "MANIFEST_CHUNK", 4)
    delta = spark.createDataFrame([("d7", 700, 2)], "doc_id string, v int, last_lsn long")
    t.merge(delta)  # first post-threshold commit migrates
    snap = t.snapshot()
    assert "files" not in snap and sum(c["n"] for c in snap["manifest_list"]) == 16
    got = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert got["d7"] == 700 and len(got) == 100

    t.rebucket(4)  # back under the inline threshold
    snap = t.snapshot()
    assert "manifest_list" not in snap and len(snap["files"]) == 4
    got = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert got["d7"] == 700 and len(got) == 100


def test_lake_level_bucket_column_ddl_rejected(spark, tmp_path):
    """The lake itself (driven without the CDC engine) rejects DDL that
    introduces the reserved layout column '_bucket' — add or rename."""
    import pytest as _pytest

    from file_standardization_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "bigint")],
        key_column="k", n_buckets=2,
    )
    with _pytest.raises(ValueError, match="_bucket"):
        t.apply_schema_change({"action": "add_column", "name": "_bucket", "type": "bigint"})
    with _pytest.raises(ValueError, match="_bucket"):
        t.apply_schema_change({"action": "rename_column", "name": "v", "new_name": "_bucket"})
    # the MOR layout columns are just as poisonous: a user '_seq'/'_tag'
    # would make the MOR read's select ambiguous and wedge every read of
    # a delta-carrying table
    for reserved in ("_seq", "_tag"):
        with _pytest.raises(ValueError, match=reserved):
            t.apply_schema_change({"action": "add_column", "name": reserved, "type": "bigint"})
        with _pytest.raises(ValueError, match=reserved):
            t.apply_schema_change({"action": "rename_column", "name": "v", "new_name": reserved})
    assert t.schema().version == 1


def test_changes_generic_table_without_lsn(spark, tmp_path):
    """Changelog on a plain table (no LSN / tombstone columns): physical
    deletes classify as delete with the before-image; updates fall back
    to null-safe value comparison (a row with a null field that did not
    change must NOT emit)."""
    from file_standardization_etl_spark.lake.table import LakeTable
    from pyspark.sql import functions as F

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        [("k", "string"), ("v", "bigint"), ("tag", "string")],
        key_column="k", n_buckets=4,
    )
    t.overwrite(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 2, None), ("c", 3, "y"), ("d", 4, "x")],
            "k string, v bigint, tag string",
        )
    )
    v1 = t.current_version()
    t.delete_where(F.col("tag") == "x")
    t.update_where(F.col("v") >= 3, {"v": F.col("v") * 10, "tag": F.lit("big")})

    got = {(r["change_op"], r["k"]): r for r in t.changes(v1).collect()}
    assert set(got) == {("delete", "a"), ("delete", "d"), ("update", "c")}
    assert got[("delete", "a")]["v"] == 1  # before-image
    assert got[("update", "c")]["v"] == 30 and got[("update", "c")]["tag"] == "big"


def test_changes_across_rebucket_falls_back_to_full_diff(spark, tmp_path):
    """A rebucket between the two snapshots invalidates bucket-id
    comparison; the diff must fall back to all buckets and stay exact."""
    from file_standardization_etl_spark.lake.table import LakeTable
    from pyspark.sql import functions as F

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "bigint")],
        key_column="k", n_buckets=4,
    )
    t.overwrite(
        spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v bigint")
    )
    v1 = t.current_version()
    t.rebucket(8)
    t.update_where(F.col("k") == "b", {"v": F.lit(20)})
    t.delete_where(F.col("k") == "c")

    got = {(r["change_op"], r["k"], r["v"]) for r in t.changes(v1).collect()}
    assert got == {("update", "b", 20), ("delete", "c", 3)}


def test_history_excludes_orphan_snapshot(spark, tmp_path):
    """history() must list only COMMITTED snapshots: a crashed writer's
    orphan v{N}.json (written before the VERSION pointer swap) is not
    table history until recommitted."""
    import json
    import os

    from file_standardization_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "string"), ("v", "bigint")],
        key_column="k", n_buckets=2,
    )
    t.overwrite(spark.createDataFrame([("a", 1)], "k string, v long"))
    head = t.current_version()
    snap = dict(t.snapshot())
    snap["version"] = head + 1
    with open(os.path.join(t._meta_dir, f"v{head + 1}.json"), "w") as f:
        json.dump(snap, f)
    assert [s["version"] for s in t.history()] == list(range(head + 1))


def test_create_rejects_reserved_layout_columns(spark, tmp_path):
    """create() enforces the same LAYOUT_RESERVED invariant DDL does — a
    table born with a '_seq'/'_tag'/'_bucket' user column would corrupt
    or wedge on its first merge, not error."""
    import pytest as _pytest

    from file_standardization_etl_spark.lake.table import LakeTable

    for i, bad in enumerate(("_bucket", "_seq", "_tag")):
        with _pytest.raises(ValueError, match=bad):
            LakeTable.create(
                spark, str(tmp_path / f"t{i}"),
                [("k", "string"), (bad, "bigint")], key_column="k",
            )
