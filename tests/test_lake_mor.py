"""Merge-on-read delta stacks: append O(delta) commits, read-time
resolution, auto fold-back to copy-on-write, schema evolution across a
live stack, GC of delta files.

Reference parity note: the reference has no table format at all (it
row-appends to PostgreSQL, ``/root/reference/repomix-output.xml:9070``);
MOR is the lake-native scale feature that keeps a micro-batch commit's
I/O proportional to the DELTA, not to the affected buckets — on a 100 TB
table a 10 MB micro-batch writes ~10 MB, while the round-2 CoW design
rewrote every affected bucket (gigabytes) per commit.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_standardization_etl_spark.lake.table import LakeTable, bucket_expr

COLS = [
    ("doc_id", "string"),
    ("v", "int"),
    ("last_lsn", "bigint"),
    ("deleted", "boolean"),
]


def make(spark, path, n_buckets=8):
    return LakeTable.create(
        spark, path, COLS, key_column="doc_id", n_buckets=n_buckets, order_column="last_lsn"
    )


def delta_df(spark, rows):
    """Events ``(doc_id, v, lsn, op)`` as table-column rows: a delete is a
    tombstone row with ``v`` null."""
    return spark.createDataFrame(
        [(k, None if op == "delete" else v, lsn, op == "delete") for k, v, lsn, op in rows],
        "doc_id string, v int, last_lsn long, deleted boolean",
    )


def state(t):
    return {
        r["doc_id"]: (r["v"], r["last_lsn"], r["deleted"]) for r in t.read().collect()
    }


def apply_events(t, spark, batches, mode):
    for lsn_rows in batches:
        t.merge(delta_df(spark, lsn_rows), mode=mode, delta_rows=len(lsn_rows))


BATCHES = [
    [("d1", 10, 1, "upsert"), ("d2", 20, 2, "upsert"), ("d3", 30, 3, "upsert")],
    [("d1", 11, 4, "upsert"), ("d4", 40, 5, "upsert")],
    [("d2", None, 6, "delete"), ("d5", 50, 7, "upsert")],
    [("d5", 51, 8, "upsert"), ("d1", 12, 9, "upsert"), ("d6", 60, 10, "upsert")],
]


def test_mor_matches_cow_exactly(spark, tmp_path):
    """The MOR stack must resolve to bit-identical state vs CoW."""
    t_cow = make(spark, str(tmp_path / "cow"))
    t_mor = make(spark, str(tmp_path / "mor"))
    apply_events(t_cow, spark, BATCHES, "cow")
    apply_events(t_mor, spark, BATCHES, "mor")
    assert state(t_mor) == state(t_cow)
    # MOR never rewrote a base file: every data dir is a delta dir
    data = os.listdir(os.path.join(str(tmp_path / "mor"), "data"))
    assert all(d.startswith("d") for d in data), data
    # every commit appended exactly one shared delta item
    entries = t_mor._files_load(t_mor.snapshot())
    paths = {d["path"] for e in entries.values() for d in e.get("deltas", [])}
    assert len(paths) == len(BATCHES)


def test_auto_mode_appends_then_folds_at_max_stack(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(LakeTable, "MOR_MAX_STACK", 3)
    t = make(spark, str(tmp_path / "t"))
    ref = {}
    lsn = 0
    for i in range(5):
        rows = []
        for j in range(4):
            lsn += 1
            k = f"d{(i * 3 + j) % 6}"
            rows.append((k, 100 * i + j, lsn, "upsert"))
            ref[k] = (100 * i + j, lsn, False)
        t.merge(delta_df(spark, rows), mode="auto", delta_rows=len(rows))
    assert state(t) == ref
    entries = t._files_load(t.snapshot())
    depth = max(len(e.get("deltas", [])) for e in entries.values())
    # the policy folded before any stack could reach MOR_MAX_STACK
    assert depth < 3
    # and at least one fold actually produced base files
    data = os.listdir(os.path.join(str(tmp_path / "t"), "data"))
    assert any(d.startswith("s") for d in data)


def test_mor_schema_evolution_preserves_carried_columns(spark, tmp_path):
    """A column added mid-stack keeps its base value through later MOR
    upserts (the delta lacks it, so its column_ids exclude it and the
    read falls back to the base row)."""
    t = make(spark, str(tmp_path / "t"))
    t.merge(delta_df(spark, BATCHES[0]), mode="mor", delta_rows=3)
    # fold to base so there is a base row to carry from
    t.compact()
    t.apply_schema_change({"action": "add_column", "name": "extra", "type": "int"})
    t.update_where(F.col("doc_id") == "d1", {"extra": F.lit(7)})

    # MOR upsert of d1 AFTER the column exists must not clobber extra=7
    t.merge(
        delta_df(spark, [("d1", 99, 50, "upsert"), ("d7", 70, 51, "upsert")]),
        mode="mor",
        delta_rows=2,
    )
    got = {r["doc_id"]: (r["v"], r["extra"]) for r in t.read().collect()}
    assert got["d1"] == (99, 7)
    assert got["d7"] == (70, None)
    # the recorded column_ids must exclude the column the delta lacks
    entries = t._files_load(t.snapshot())
    items = [d for e in entries.values() for d in e.get("deltas", [])]
    extra_id = t.schema().by_name()["extra"].id
    assert items and all(extra_id not in d["column_ids"] for d in items)


def test_mor_rename_and_widen_mid_stack(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"))
    t.merge(delta_df(spark, BATCHES[0]), mode="mor", delta_rows=3)
    t.apply_schema_change({"action": "rename_column", "name": "v", "new_name": "val"})
    t.apply_schema_change({"action": "widen_type", "name": "val", "type": "bigint"})

    t.merge(
        spark.createDataFrame(
            [("d2", 21, 20, False)], "doc_id string, val bigint, last_lsn long, deleted boolean"
        ),
        mode="mor",
        delta_rows=1,
    )
    got = {r["doc_id"]: r["val"] for r in t.read().collect()}
    assert got == {"d1": 10, "d2": 21, "d3": 30}
    assert dict(t.read().dtypes)["val"] == "bigint"


def test_bucket_pruned_read_with_stack_matches_full(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"), n_buckets=8)
    apply_events(t, spark, BATCHES, "mor")
    full = t.read().withColumn("_b", bucket_expr(F.col("doc_id"), 8)).collect()
    for b in range(8):
        want = sorted(r["doc_id"] for r in full if r["_b"] == b)
        got = sorted(r["doc_id"] for r in t.read(buckets=[b]).collect())
        assert want == got, (b, want, got)


def test_time_travel_through_stack_and_gc_keeps_live_deltas(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"))
    apply_events(t, spark, BATCHES, "mor")
    # time travel to after batch 2
    got = {r["doc_id"]: r["v"] for r in t.read(as_of_version=2).collect()}
    assert got == {"d1": 11, "d2": 20, "d3": 30, "d4": 40}
    # an orphan delta dir (crashed writer) is collected, live ones kept
    orphan = os.path.join(str(tmp_path / "t"), "data", "d99-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("x")
    res = t.expire_snapshots(keep_last=2, grace_seconds=0.0)
    assert res["data_dirs_deleted"] == 1 and not os.path.exists(orphan)
    # current state still resolves (live delta files survived GC)
    assert state(t)["d1"] == (12, 9, False)
    with pytest.raises(FileNotFoundError):
        t.read(as_of_version=1)


def test_partial_cow_fold_drops_refs_without_resurrecting_rows(spark, tmp_path):
    """CoW-merging a SUBSET of buckets that share a delta file must drop
    only those buckets' references; other buckets keep resolving from the
    shared file, and the folded buckets must not resurrect stack rows."""
    t = make(spark, str(tmp_path / "t"), n_buckets=8)
    apply_events(t, spark, BATCHES, "mor")
    before = state(t)
    # CoW touching only d1's bucket
    t.merge(
        delta_df(spark, [("d1", 13, 100, "upsert")]), mode="cow", delta_rows=1
    )
    want = dict(before)
    want["d1"] = (13, 100, False)
    assert state(t) == want
    entries = t._files_load(t.snapshot())
    b_d1 = (
        delta_df(spark, [("d1", 0, 0, "u")])
        .select(bucket_expr(F.col("doc_id"), 8).alias("b"))
        .collect()[0]["b"]
    )
    assert not entries[str(b_d1)].get("deltas")
    assert any(e.get("deltas") for e in entries.values())


def test_stray_bucket_guard_aborts_before_commit(spark, tmp_path):
    t = make(spark, str(tmp_path / "t"), n_buckets=8)
    # d1 hashes to bucket 0 under xxhash64 % 8; d3 hashes to bucket 4
    rows = [("d1", 1, 1, "upsert"), ("d3", 3, 2, "upsert")]
    with pytest.raises(ValueError, match="undeclared buckets"):
        t.merge(
            delta_df(spark, rows),
            mode="mor",
            delta_rows=2,
            affected_buckets=[0],
        )
    assert t.current_version() == 0
    # no unreferenced delta dir left behind
    data_dir = os.path.join(str(tmp_path / "t"), "data")
    assert not os.path.isdir(data_dir) or os.listdir(data_dir) == []


def test_oversized_stack_uses_shuffle_fallback(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(LakeTable, "MOR_BROADCAST_MAX_BYTES", 1)
    t = make(spark, str(tmp_path / "t"))
    # seed a base so the fallback join path (not the base-None shortcut) runs
    t.overwrite(
        spark.createDataFrame(
            [("d1", 1, 1, False), ("d9", 9, 1, False)],
            "doc_id string, v int, last_lsn long, deleted boolean",
        )
    )
    apply_events(t, spark, BATCHES, "mor")
    got = state(t)
    assert got["d1"] == (12, 9, False)
    assert got["d9"] == (9, 1, False)
    assert got["d2"][2] is True  # tombstone via delete


def test_mor_over_chunked_manifest_layout(spark, tmp_path, monkeypatch):
    """MOR delta refs must ride the chunked manifest tree: appends touch
    only intersecting chunks, folds drop refs chunk-granularly, GC sees
    chunk-stored delta refs as live, and state stays exact throughout."""
    monkeypatch.setattr(LakeTable, "MANIFEST_INLINE_MAX", 8)
    monkeypatch.setattr(LakeTable, "MANIFEST_CHUNK", 4)
    monkeypatch.setattr(LakeTable, "MOR_MAX_STACK", 3)
    t = make(spark, str(tmp_path / "t"), n_buckets=16)
    ref = {}
    lsn = 0
    for i in range(5):
        rows = []
        for j in range(4):
            lsn += 1
            k = f"d{(i * 3 + j) % 6}"
            rows.append((k, 100 * i + j, lsn, "upsert"))
            ref[k] = (100 * i + j, lsn, False)
        t.merge(delta_df(spark, rows), mode="auto", delta_rows=len(rows))
    snap = t.snapshot()
    assert "files" not in snap and snap.get("manifest_list")
    assert state(t) == ref
    # at least one delta ref lives inside a manifest chunk right now
    assert any(e.get("deltas") for e in t._files_load(snap).values())
    res = t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    assert state(t) == ref  # GC kept chunk-referenced delta files live
    assert res["snapshots_deleted"] >= 1


def test_mor_delta_bytes_apportioned_per_bucket(spark, tmp_path):
    """A shared MOR delta file referenced by K buckets must not be counted
    K times in per-bucket accounting: each reference carries a
    ``share_bytes`` apportionment (summing to ~the true file size), while
    ``bytes`` stays the true size for the read-side broadcast decision.
    Without this a 64-bucket micro-batch delta inflates the auto-mode
    compaction threshold and CoW write-task sizing by up to 64x."""
    t = make(spark, str(tmp_path / "t"), n_buckets=8)
    rows = [(f"d{i}", i, i + 1, "upsert") for i in range(64)]  # spans all buckets
    t.merge(delta_df(spark, rows), mode="mor", delta_rows=len(rows))
    entries = t._files_load(t.snapshot())
    items = [d for e in entries.values() for d in e.get("deltas", [])]
    assert items
    true_bytes = items[0]["bytes"]
    n_refs = len(items)
    assert all(d["bytes"] == true_bytes for d in items)  # one shared file
    share_sum = sum(d["share_bytes"] for d in items)
    assert true_bytes <= share_sum <= true_bytes + n_refs  # ceil rounding only
    # per-bucket accounting uses the share, not the full file size
    per_bucket = sum(LakeTable._entry_bytes(e) for e in entries.values())
    assert per_bucket < 2 * true_bytes


def test_mor_carry_column_named_like_new_prefix_survives(spark, tmp_path):
    """A column the delta lacks whose NAME contains the literal '__n_'
    substring (e.g. 'x__n_y', the merge plan's new-side prefix) must
    still be excluded from the delta file and keep its base value: a
    delta file carrying it as all-null would clobber the base value at
    read time."""
    t = make(spark, str(tmp_path / "t"))
    t.merge(delta_df(spark, BATCHES[0]), mode="mor", delta_rows=3)
    t.compact()
    t.apply_schema_change({"action": "add_column", "name": "x__n_y", "type": "int"})
    t.update_where(F.col("doc_id") == "d1", {"x__n_y": F.lit(41)})

    t.merge(delta_df(spark, [("d1", 99, 50, "upsert")]), mode="mor", delta_rows=1)
    got = {r["doc_id"]: (r["v"], r["x__n_y"]) for r in t.read().collect()}
    assert got["d1"] == (99, 41)  # carried value survived the MOR upsert
    entries = t._files_load(t.snapshot())
    items = [d for e in entries.values() for d in e.get("deltas", [])]
    col_id = t.schema().by_name()["x__n_y"].id
    assert items and all(col_id not in d["column_ids"] for d in items)


def test_oversized_stack_read_never_broadcasts(spark, tmp_path, monkeypatch):
    """Above MOR_BROADCAST_MAX_BYTES the read resolution must not
    broadcast EITHER frame — the base join (already gated) or the
    per-key max-_seq winner semi-join (gated in round 4): with forced
    mode="mor" and no fold, a >256 MB live stack carries a key set far
    too large to ship to every executor. Auto-broadcast is disabled for
    the assertion so the plan shows the engine's own hints only."""
    monkeypatch.setattr(LakeTable, "MOR_BROADCAST_MAX_BYTES", 0)
    t = make(spark, str(tmp_path / "t"))
    apply_events(t, spark, BATCHES, "mor")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = t.read()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" not in plan, plan
        # the shuffled fallback resolves to the same state as CoW
        t_cow = make(spark, str(tmp_path / "cow"))
        apply_events(t_cow, spark, BATCHES, "cow")
        got = {
            r["doc_id"]: (r["v"], r["last_lsn"], r["deleted"]) for r in df.collect()
        }
        assert got == state(t_cow)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_cow_merge_byte_gate_never_broadcasts_payload(spark, tmp_path, monkeypatch):
    """A CoW merge gates its payload-side broadcast on BYTES, not rows: a
    one-row delta whose caller-declared ``delta_bytes`` exceeds
    MOR_BROADCAST_MAX_BYTES (a few huge token arrays) must take the
    shuffled full-outer plan, and that plan must land the same state as
    the broadcast plan does for the same merges."""
    seed = spark.createDataFrame(
        [(f"d{i}", i, 1, False) for i in range(1, 65)],  # every bucket stored
        "doc_id string, v int, last_lsn long, deleted boolean",
    )
    merges = [[("d1", 99, 5, "upsert")], [("d99", 70, 6, "upsert")]]
    plans = []
    real = LakeTable._write_buckets

    def spy(self, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(self, df, *args, **kwargs)

    t_small = make(spark, str(tmp_path / "small"))
    t_big = make(spark, str(tmp_path / "big"))
    t_small.overwrite(seed)
    t_big.overwrite(seed)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(LakeTable, "_write_buckets", spy)
    try:
        for rows in merges:
            t_small.merge(delta_df(spark, rows), mode="cow", delta_rows=1, delta_bytes=1)
        assert all("BroadcastHashJoin" in p for p in plans), plans
        plans.clear()
        for rows in merges:
            t_big.merge(
                delta_df(spark, rows),
                mode="cow",
                delta_rows=1,
                delta_bytes=LakeTable.MOR_BROADCAST_MAX_BYTES + 1,
            )
        assert len(plans) == len(merges)
        assert all("SortMergeJoin" in p and "FullOuter" in p for p in plans), plans
        assert all("Broadcast" not in p for p in plans), plans
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    got = state(t_big)
    assert got == state(t_small)
    assert got["d1"] == (99, 5, False) and got["d99"] == (70, 6, False)
    assert len(got) == 65


def test_internal_reads_plan_without_spark_jobs(spark, tmp_path):
    """Every parquet read of files the engine wrote itself declares the
    schema its metadata records, so PLANNING a read runs no Spark job (no
    schema inference) — on a table with base files, a MOR delta stack
    written under two schema versions and a renamed column, for the
    current and a time-travel read, the engine's state and its vocab.
    The planned reads still equal the oracle."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.events import (
        EventGenConfig,
        events_df,
        generate_events,
    )
    from file_standardization_etl_spark.cdc.oracle import replay
    from tests.test_bootstrap import snapshot_df

    cfg = EventGenConfig(
        n_events=1600, n_docs=150, seed=31,
        schema_change_lsns=(1300,),
        schema_changes=({"action": "rename_column", "name": "source", "new_name": "origin"},),
    )
    events = generate_events(cfg)
    eng = CdcEngine(spark, str(tmp_path / "cdc"), maintain_vocab=True)
    eng.init()
    eng.bootstrap(snapshot_df(spark, replay([e for e in events if e["lsn"] <= 800])), 800)
    eng.apply_batch(events_df(spark, [e for e in events if 800 < e["lsn"] <= 1000]), 1)
    v1 = eng.table.current_version()
    eng.apply_batch(events_df(spark, [e for e in events if e["lsn"] > 1000]), 2)

    snap = eng.table.snapshot()
    entries = eng.table._files_load(snap).values()
    assert any(e.get("path") and len(e.get("deltas", [])) >= 2 for e in entries)
    assert len({d["schema_version"] for e in entries for d in e.get("deltas", [])}) == 2
    assert "origin" in eng.table.schema().names()

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    eng.vocab()  # folds nothing: every pending folded after its merge
    jobs = dag.numTotalJobs()
    current = eng.table.read()
    as_of = eng.table.read(as_of_version=v1)
    state = eng.state()
    vocab = eng.vocab()
    assert dag.numTotalJobs() == jobs

    def live(oracle, source):
        return {
            k: (list(v["tokens"]), v["n_tok"], v[source], v["last_lsn"])
            for k, v in oracle.live_docs().items()
        }

    def rows(df, source):
        return {
            r["doc_id"]: (list(r["tokens"]), r["n_tok"], r[source], r["last_lsn"])
            for r in df.filter(~F.col("deleted")).collect()
        }

    final = replay(events)
    assert rows(current, "origin") == live(final, "source")
    assert rows(state, "origin") == live(final, "source")
    assert rows(as_of, "source") == live(
        replay([e for e in events if e["lsn"] <= 1000]), "source"
    )
    occ: dict = {}
    docs: dict = {}
    for k, v in final.live_docs().items():
        for t in v["tokens"]:
            occ[t] = occ.get(t, 0) + 1
            docs.setdefault(t, set()).add(k)
    got = {r["token"]: (r["n_occ"], r["n_docs"]) for r in vocab.collect()}
    assert got == {t: (occ[t], len(docs[t])) for t in occ}


def test_randomized_order_rule_matches_dict_oracle(spark, tmp_path, monkeypatch):
    """The merge rule on a plain table, no engine: random batches of
    out-of-order and stale rows through copy-on-write, tombstone rows,
    merge-on-read appends and the folds they trigger (MOR_MAX_STACK=2),
    ``compact()``, and an ``add_column`` whose values later MOR upserts
    must keep — some deltas carry the added column, most lack it. The
    table equals a dict oracle throughout: a row replaces its key's
    stored row when the key is absent or its order value is strictly
    greater, sets the columns it carries and keeps the rest. A table
    with no order column is last-write-wins. A delta naming a column the
    table lacks, or lacking the key or order column, is refused before
    anything is written."""
    import random

    monkeypatch.setattr(LakeTable, "MOR_MAX_STACK", 2)
    for ordered in (True, False):
        rng = random.Random(5150 + ordered)
        t = LakeTable.create(
            spark, str(tmp_path / f"t{int(ordered)}"), COLS, key_column="doc_id",
            n_buckets=4, order_column="last_lsn" if ordered else None,
        )
        cols = ["doc_id", "v", "last_lsn", "deleted"]
        want: dict = {}
        mor_top: dict = {}  # key -> highest order sent through an auto merge
        clock = 0
        early, late = ["cow", "auto"] * 2, ["cow", "auto"] * 6 + ["compact", "auto"]
        rng.shuffle(early)
        rng.shuffle(late)
        # then two wide MOR appends sharing keys, the first carrying the
        # added column and the second lacking it
        steps = early + ["add_column", "auto:extra", "auto:plain"] + late
        for i, step in enumerate(steps):
            if step == "compact":
                t.compact()
            elif step == "add_column":
                t.apply_schema_change({"action": "add_column", "name": "extra", "type": "int"})
                cols.append("extra")
                for row in want.values():
                    row["extra"] = None
            else:
                mode, _, forced = step.partition(":")
                extra = {"extra": True, "plain": False}.get(forced, rng.random() < 0.5)
                carry = [c for c in cols if c != "extra" or extra]
                rows = []
                n_keys = 8 if forced else rng.randint(1, 6)
                for k in rng.sample([f"d{j}" for j in range(12)], n_keys):
                    if mode == "auto":  # above every stacked row of its key
                        o = rng.randint(mor_top.get(k, 0) + 1, clock + 4)
                        mor_top[k] = o
                    else:  # anything: stale, tied or out of order
                        o = rng.randint(1, clock + 4)
                    clock = max(clock, o)
                    dead = rng.random() < 0.25
                    row = {"doc_id": k, "v": None if dead else rng.randint(0, 999),
                           "last_lsn": o, "deleted": dead, "extra": rng.randint(0, 9)}
                    rows.append(tuple(row[c] for c in carry))
                    stored = want.get(k)
                    if stored is None or not ordered or o > stored["last_lsn"]:
                        want[k] = {**dict.fromkeys(cols), **(stored or {}),
                                   **{c: row[c] for c in carry}}
                schema = ", ".join(
                    f"{c} {dict(COLS + [('extra', 'int')])[c]}" for c in carry
                )
                t.merge(
                    spark.createDataFrame(rows, schema),
                    mode=mode,
                    delta_rows=len(rows),
                )
            if i % 4 == 3 or i == len(steps) - 1:
                got = {r["doc_id"]: tuple(r[c] for c in cols) for r in t.read().collect()}
                assert got == {k: tuple(r[c] for c in cols) for k, r in want.items()}, (
                    ordered, i, step,
                )
        entries = t._files_load(t.snapshot()).values()
        assert any(e.get("path") for e in entries)  # folds wrote base files

        v = t.current_version()
        bad = ["doc_id string, v int, last_lsn long, nope int", "v int, last_lsn long"]
        if ordered:
            bad.append("doc_id string, v int")
        for schema in bad:
            with pytest.raises(ValueError, match="merge delta"):
                t.merge(spark.createDataFrame([], schema))
        assert t.current_version() == v
