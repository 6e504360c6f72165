"""Maintenance + continuous-tail coverage: table compaction with tombstone
expiry, and the continuous (processingTime-trigger) streaming mode."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import (
    EventGenConfig,
    events_df,
    generate_events,
)
from file_standardization_etl_spark.cdc.oracle import replay
from file_standardization_etl_spark.streaming.runner import StreamingCdcRunner


def test_compact_preserves_state_and_expires_tombstones(spark, tmp_path):
    cfg = EventGenConfig(n_events=2000, n_docs=120, seed=21, delete_frac=0.15)
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    engine.apply_batch(events_df(spark, events), batch_id=0)

    before_live = {
        r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()
    }
    tombs_before = engine.state(include_deleted=True).filter(F.col("deleted")).count()
    assert tombs_before > 0, "fixture must produce tombstones"

    # expire every tombstone below the global watermark: safe because no
    # event with a lower LSN can ever arrive again
    engine.table.compact(expire_tombstones_below_lsn=engine.applied_lsn() + 1)

    after_live = {
        r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()
    }
    assert after_live == before_live  # live rows bitwise identical
    assert engine.state(include_deleted=True).filter(F.col("deleted")).count() == 0

    oracle = replay(events)
    want = {k: (list(v["tokens"]), v["last_lsn"]) for k, v in oracle.live_docs().items()}
    assert after_live == want


def test_continuous_tail_applies_new_segments(spark, tmp_path):
    log_dir = tmp_path / "wal"
    log_dir.mkdir()
    cfg = EventGenConfig(n_events=1200, n_docs=100, seed=31, shuffle_arrival=False)
    events = generate_events(cfg)
    events_df(spark, events[:600]).coalesce(1).write.mode("append").parquet(str(log_dir))

    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    runner = StreamingCdcRunner(spark, str(log_dir), engine)
    q = runner.start_continuous(processing_time="1 second")
    try:
        deadline = time.time() + 120
        while engine.applied_lsn() < 600 and time.time() < deadline:
            time.sleep(1)
        assert engine.applied_lsn() == 600
        # a new WAL segment arrives while the query is live
        events_df(spark, events[600:]).coalesce(1).write.mode("append").parquet(str(log_dir))
        while engine.applied_lsn() < 1200 and time.time() < deadline:
            time.sleep(1)
        assert engine.applied_lsn() == 1200
    finally:
        q.stop()

    oracle = replay(events)
    got = {r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()}
    want = {k: (list(v["tokens"]), v["last_lsn"]) for k, v in oracle.live_docs().items()}
    assert got == want
    assert engine.quarantine().count() == len(oracle.quarantine)


def test_rebucket_preserves_state_and_new_layout_merges(spark, tmp_path):
    """SCALE.md §2: n_buckets must be migratable after table create. State
    must be bitwise identical across the rewrite, the snapshot must swap
    layout + files atomically, and subsequent batches must merge (and
    bucket-prune) correctly under the new layout."""
    cfg = EventGenConfig(n_events=3000, n_docs=150, seed=37)
    events = generate_events(cfg)
    # WAL contract: batches must be LSN-coherent slices (disorder only
    # WITHIN a batch) — slice by lsn, not by arrival position
    first = [e for e in events if e["lsn"] <= 1500]
    second = [e for e in events if e["lsn"] > 1500]
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=8)
    engine.init()
    engine.apply_batch(events_df(spark, first), batch_id=0)

    def snap_all():
        return {
            r["doc_id"]: (
                list(r["tokens"]) if r["tokens"] is not None else None,
                r["last_lsn"], r["deleted"],
            )
            for r in engine.state(include_deleted=True).collect()
        }

    before = snap_all()
    assert engine.table.snapshot()["n_buckets"] == 8

    engine.table.rebucket(32)
    snap = engine.table.snapshot()
    assert snap["n_buckets"] == 32
    assert all(0 <= int(b) < 32 for b in snap["files"])
    after = snap_all()
    assert after == before

    # ingest continues under the new layout; final state matches the oracle
    engine.apply_batch(events_df(spark, second), batch_id=1)
    oracle = replay(events)
    got = {r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()}
    want = {k: (list(v["tokens"]), v["last_lsn"]) for k, v in oracle.live_docs().items()}
    assert got == want

    # shrink migration too (32 -> 4)
    engine.table.rebucket(4)
    assert engine.table.snapshot()["n_buckets"] == 4
    got4 = {r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()}
    assert got4 == want


def test_expire_snapshots_gc_and_orphans(spark, tmp_path):
    """Snapshot/data GC: old snapshot JSONs and unreferenced data dirs
    (incl. crashed-writer orphans) are deleted; the kept horizon still
    reads bitwise-identically."""
    import os

    cfg = EventGenConfig(n_events=2000, n_docs=100, seed=41)
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    # several commits -> several snapshots + superseded bucket dirs
    slices = [e for e in events]
    third = len(slices) // 3
    for i, lo in enumerate(range(0, len(slices), third)):
        batch = [e for e in events if lo < e["lsn"] <= lo + third]
        if batch:
            engine.apply_batch(events_df(spark, batch), batch_id=i)
    table = engine.table
    v = table.current_version()
    assert v >= 3

    # crashed-writer orphan: a data dir no snapshot references
    orphan = os.path.join(table.path, "data", "s999-deadbeef")
    os.makedirs(os.path.join(orphan, "_bucket=0"))
    with open(os.path.join(orphan, "_bucket=0", "junk.parquet"), "w") as f:
        f.write("junk")

    before = {
        r["doc_id"]: (list(r["tokens"]) if r["tokens"] is not None else None, r["last_lsn"])
        for r in engine.state(include_deleted=True).collect()
    }
    # with the default grace window the fresh orphan is indistinguishable
    # from a concurrent writer's in-flight commit -> preserved
    stats = table.expire_snapshots(keep_last=2)
    assert stats["snapshots_deleted"] >= 1
    assert os.path.exists(orphan)
    # ingester-stopped mode (grace 0) collects it
    stats = table.expire_snapshots(keep_last=2, grace_seconds=0.0)
    assert not os.path.exists(orphan)
    # only the kept snapshot JSONs remain
    metas = [n for n in os.listdir(os.path.join(table.path, "_meta")) if n.endswith(".json")]
    assert sorted(metas) == [f"v{v-1}.json", f"v{v}.json"]
    after = {
        r["doc_id"]: (list(r["tokens"]) if r["tokens"] is not None else None, r["last_lsn"])
        for r in engine.state(include_deleted=True).collect()
    }
    assert after == before
    # ingest continues after GC
    engine.apply_batch(events_df(spark, [e for e in events if e["lsn"] > engine.applied_lsn()]),
                       batch_id=99)


def test_compact_quarantine_archives_and_stays_idempotent(spark, tmp_path):
    """Quarantine-tree compaction: per-(batch,chunk) dirs fold into the
    archive; quarantine() content is unchanged; re-running compaction (the
    crash-recovery path) adds nothing; later batches still quarantine."""
    import os

    cfg = EventGenConfig(n_events=2000, n_docs=100, seed=47, corrupt_frac=0.1)
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    first = [e for e in events if e["lsn"] <= 1000]
    second = [e for e in events if e["lsn"] > 1000]
    engine.apply_batch(events_df(spark, first), batch_id=0)

    before = {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()}
    assert before

    # save an exact copy of the live tree so the 'appended but tree not
    # yet removed' crash state can be reconstructed afterwards
    import shutil

    saved = str(tmp_path / "saved_tree")
    shutil.copytree(engine.quarantine_path, saved)

    n1 = engine.compact_quarantine()
    assert n1 == len(before)
    assert not os.path.isdir(engine.quarantine_path) or not os.listdir(
        engine.quarantine_path
    )
    assert {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()} == before

    # compaction is a no-op when nothing is live
    assert engine.compact_quarantine() == 0

    # CRASH STATE: archive holds the rows AND the original tree is back
    # (as if the crash hit between append and tree removal). quarantine()
    # must still count each row exactly once, and re-compaction must
    # archive zero while clearing the tree.
    shutil.rmtree(engine.quarantine_path, ignore_errors=True)
    shutil.copytree(saved, engine.quarantine_path)
    assert {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()} == before
    assert engine.compact_quarantine() == 0
    assert {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()} == before

    engine.apply_batch(events_df(spark, second), batch_id=1)
    mid = {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()}
    assert len(mid) > len(before)
    n2 = engine.compact_quarantine()
    assert n2 == len(mid) - len(before)
    assert engine.compact_quarantine() == 0
    assert {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()} == mid

    oracle = replay(events)
    assert len(mid) == len(oracle.quarantine)


def test_changefeed_job_exports_window(spark, tmp_path, monkeypatch):
    """jobs/changefeed.py one-shot range export: the written parquet is
    exactly the table's changes() output for that window."""
    import os
    import sys

    events = generate_events(EventGenConfig(n_events=1500, n_docs=80, seed=47))
    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    engine.apply_batch(events_df(spark, events[:700]), batch_id=0)
    v1 = engine.table.current_version()
    engine.apply_batch(events_df(spark, events[700:]), batch_id=1)
    v2 = engine.table.current_version()

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import changefeed as job

    out = str(tmp_path / "feed")
    monkeypatch.setattr(
        sys, "argv",
        ["changefeed.py", "--table-dir", str(tmp_path / "cdc"),
         "--from-version", str(v1), "--to-version", str(v2), "--out", out],
    )
    job.main()

    exported = spark.read.parquet(os.path.join(out, f"v{v1:010d}-v{v2:010d}"))
    want = {
        (r["change_op"], r["doc_id"], r["last_lsn"])
        for r in engine.changes(v1, v2).collect()
    }
    got = {
        (r["change_op"], r["doc_id"], r["last_lsn"]) for r in exported.collect()
    }
    assert got == want and len(got) > 0


def test_compact_raises_commit_conflict_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """A commit landing between compact's read and its overwrite must
    surface as CommitConflict — previously overwrite() captured its
    optimistic expected-version AFTER the read, so the stale rewrite
    silently erased the concurrent batch (and carried its watermark
    forward, making the loss permanent)."""
    import pytest as _pytest

    from file_standardization_etl_spark.lake.table import CommitConflict, LakeTable

    path = str(tmp_path / "t")
    t = LakeTable.create(
        spark, path, [("k", "string"), ("v", "bigint")], key_column="k", n_buckets=2
    )
    t.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"))

    orig_read = LakeTable.read
    fired = {"done": False}

    def racy_read(self, *a, **kw):
        # one-shot, and only for compact's own read — merge() also calls
        # read() internally, which would otherwise recurse
        if fired["done"] or self is not t:
            return orig_read(self, *a, **kw)
        fired["done"] = True
        df = orig_read(self, *a, **kw)
        # concurrent ingester commit lands after the maintenance read
        t2 = LakeTable(spark, path)
        t2.merge(spark.createDataFrame([("c", 3)], "k string, v long"), delta_rows=1)
        return df

    monkeypatch.setattr(LakeTable, "read", racy_read)
    with _pytest.raises(CommitConflict):
        t.compact()
    # the concurrent commit survived
    assert {r["k"] for r in t.read().collect()} == {"a", "b", "c"}
    # retry against fresh state succeeds
    t.compact()
    assert {r["k"] for r in t.read().collect()} == {"a", "b", "c"}


def test_compact_tombstone_expiry_resolves_renamed_columns(spark, tmp_path):
    """Tombstone expiry after a rename_column DDL: the table's recorded
    tombstone column moves with the rename (the LSN is its recorded order
    column), so expiry takes no name from the caller; a table that
    records no tombstone column must raise loudly (not silently skip)."""
    import pytest as _pytest

    from file_standardization_etl_spark.lake.table import LakeTable

    cfg = EventGenConfig(n_events=800, n_docs=60, seed=77, delete_frac=0.3)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    engine.apply_batch(events_df(spark, generate_events(cfg)), batch_id=0)
    engine.table.apply_schema_change(
        {"action": "rename_column", "name": "deleted", "new_name": "is_dead"}
    )
    assert engine.table.snapshot()["tombstone_column"] == "is_dead"
    assert engine.table.read().filter(F.col("is_dead")).count() > 0
    engine.table.compact(expire_tombstones_below_lsn=engine.applied_lsn() + 1)
    assert engine.table.read().filter(F.col("is_dead")).count() == 0

    plain = LakeTable.create(
        spark, str(tmp_path / "plain"),
        [("k", "string"), ("dead", "boolean"), ("lsn", "bigint")],
        key_column="k", order_column="lsn",
    )
    with _pytest.raises(ValueError, match="tombstone"):
        plain.compact(expire_tombstones_below_lsn=1)


def test_fuzz_maintenance_interleaved_with_ingest(spark, tmp_path):
    """Maintenance-op fuzz (2 seeded cases): a random maintenance op runs
    between ingest batches — plain compaction, compaction with tombstone
    expiry (which records the requeue fence), rebucket to a different
    bucket count, snapshot GC, or a widened-whitelist requeue — with the
    vocab aggregate maintained throughout and a rename DDL mid-stream in
    one case. Final live state, remaining tombstones, quarantine, and the
    vocab aggregate must equal the dict oracle extended with the
    expiry-fence and requeue rules. Covers the interactions the
    single-op tests can't: MOR merges onto a rebucketed layout, requeue
    after (and before) an expiry fence, GC under accumulated versions."""
    import random as _random

    from file_standardization_etl_spark.cdc.apply import FID_DELETED, FID_DOC, FID_LSN, FID_TOKENS
    from file_standardization_etl_spark.cdc.events import BAD_SOURCES, SOURCE_WHITELIST
    from file_standardization_etl_spark.cdc.oracle import OracleState, validation_reason
    from tests.test_vocab import maintained, recompute

    widened = SOURCE_WHITELIST + [s for s in BAD_SOURCES if s]
    ops_seen: set = set()
    for case in range(2):
        rng = _random.Random(8800 + case)
        n_events = 1500
        ddl = ({"action": "rename_column", "name": "source", "new_name": "origin"},)
        cfg = EventGenConfig(
            n_events=n_events, n_docs=110, seed=8900 + case,
            bad_source_frac=0.12, delete_frac=0.15, disorder_window=30,
            schema_change_lsns=(700,) if case == 1 else (),
            schema_changes=ddl if case == 1 else (),
        )
        events = generate_events(cfg)
        eng = CdcEngine(spark, str(tmp_path / f"mcase{case}"), maintain_vocab=True)
        eng.init()

        st = OracleState()
        fence = {"v": 0}

        def oracle_expire():
            w = st.max_applied_lsn + 1
            fence["v"] = max(fence["v"], w)
            st.docs = {
                k: v for k, v in st.docs.items()
                if not (v["deleted"] and v["last_lsn"] < w)
            }

        def oracle_requeue():
            rescued = [
                q for q in st.quarantine
                if validation_reason(q, tuple(widened)) is None
                and q["lsn"] >= fence["v"]
            ]
            for ev in sorted(rescued, key=lambda e: e["lsn"]):
                doc = st.docs.get(ev["doc_id"])
                if doc is not None and ev["lsn"] <= doc["last_lsn"]:
                    continue
                st.docs[ev["doc_id"]] = {
                    "tokens": list(ev["tokens"]), "n_tok": ev["n_tok"],
                    "source": ev["source"], "last_lsn": ev["lsn"],
                    "deleted": False,
                }
            st.quarantine = [q for q in st.quarantine if q not in rescued]

        cuts = sorted(rng.sample(range(100, n_events - 100), 4))
        bounds = [0] + cuts + [n_events]
        batches = [
            [e for e in events if lo < e["lsn"] <= hi]
            for lo, hi in zip(bounds, bounds[1:])
        ]
        # case 0 samples from all six (may include the no-op); case 1
        # samples exactly the five real ops — together every maintenance
        # op runs at least once, asserted below
        universe = (
            ["none", "compact", "expire", "rebucket", "gc", "requeue"]
            if case == 0
            else ["compact", "expire", "rebucket", "gc", "requeue"]
        )
        ops_pool = rng.sample(universe, len(batches))
        ops_run = []
        for i, b in enumerate(batches):
            eng.apply_batch(events_df(spark, b), batch_id=i)
            replay(b, st)
            op = ops_pool[i]
            ops_run.append(op)
            if op == "compact":
                eng.table.compact()
            elif op == "expire":
                eng.table.compact(expire_tombstones_below_lsn=eng.applied_lsn() + 1)
                oracle_expire()
            elif op == "rebucket":
                eng.table.rebucket(rng.choice([4, 8, 24]))
            elif op == "gc":
                eng.table.expire_snapshots(keep_last=2, grace_seconds=0.0)
            elif op == "requeue":
                eng.requeue_quarantine(widened)
                oracle_requeue()

        # corrective dedup as the closing maintenance op (jobs/maintain.py
        # --dedup-correct): seed cross-doc duplicated spans, then
        # detect → rewrite → re-ingest through the same merge. The oracle
        # replays the engine's OWN corrective events (rewrite content has
        # its own brute-force gates); what this fuzz adds is the
        # interaction surface — corrections over a rebucketed/compacted/
        # renamed table, and the vocab IVM staying consistent through
        # them (asserted below vs full recompute).
        wm = eng.applied_lsn()
        boiler = [7, 11, 13, 17]
        extra = [
            {
                "lsn": wm + 1 + j, "op": "insert", "doc_id": f"dup{j}",
                "tokens": [900 + j] + boiler + [950 + j], "n_tok": 6,
                "source": SOURCE_WHITELIST[0], "schema_change": None, "ts": None,
            }
            for j in range(3)
        ]
        eng.apply_batch(events_df(spark, extra), batch_id=90)
        replay(extra, st)
        rows = [r.asDict() for r in eng.dedup_correct_events(n=4).collect()]
        # dup0 holds the keeper occurrence; dup1/dup2 must be corrected
        assert {"dup1", "dup2"} <= {r["doc_id"] for r in rows}
        eng.apply_batch(events_df(spark, rows), batch_id=91)
        replay(rows, st)
        ops_run.append("dedup_correct")
        ops_seen.update(ops_run)

        n = {c.id: c.name for c in eng.table.schema().columns}
        got_live = {
            r[n[FID_DOC]]: (list(r[n[FID_TOKENS]]), r[n[FID_LSN]])
            for r in eng.state().collect()
        }
        want_live = {
            k: (list(v["tokens"]), v["last_lsn"]) for k, v in st.live_docs().items()
        }
        assert got_live == want_live, f"case {case} ops {ops_run}"
        got_tombs = {
            r[n[FID_DOC]]: r[n[FID_LSN]]
            for r in eng.state(include_deleted=True)
            .filter(F.col(n[FID_DELETED]))
            .collect()
        }
        want_tombs = {
            k: v["last_lsn"] for k, v in st.docs.items() if v["deleted"]
        }
        assert got_tombs == want_tombs, f"case {case} ops {ops_run}"
        assert eng.quarantine().count() == len(st.quarantine), f"case {case}"
        assert maintained(eng) == recompute(eng), f"case {case} ops {ops_run}"
    assert ops_seen >= {"compact", "expire", "rebucket", "gc", "requeue"}, ops_seen


def _dup_engine(spark, path):
    """dup0..dup2 share a 4-token span (dup0 keeps it); `other` has none."""
    engine = CdcEngine(spark, path)
    engine.init()
    boiler = [3, 5, 7, 9]
    rows = [
        {"lsn": 1 + j, "op": "insert", "doc_id": f"dup{j}",
         "tokens": [400 + j] + boiler + [500 + j], "n_tok": 6,
         "source": "web", "schema_change": None, "ts": None}
        for j in range(3)
    ] + [
        {"lsn": 4, "op": "insert", "doc_id": "other", "tokens": [1, 2],
         "n_tok": 2, "source": "web", "schema_change": None, "ts": None}
    ]
    engine.apply_batch(events_df(spark, rows), batch_id=0)
    return engine


def _live(engine):
    return {r["doc_id"]: list(r["tokens"]) for r in engine.state().collect()}


def test_dedup_correct_regenerates_uncommitted_segment(spark, tmp_path):
    """A corrective segment whose write crashed midway (files readable, no
    _SUCCESS) was never applied: the next pass regenerates it from the
    live state instead of applying the partial events."""
    import os

    from jobs.maintain import dedup_correct

    engine = _dup_engine(spark, str(tmp_path / "cdc"))
    wal = str(tmp_path / "corrective")
    seg = os.path.join(wal, f"from_lsn_{engine.applied_lsn() + 1}")
    bogus = [{"lsn": engine.applied_lsn() + 1, "op": "delete", "doc_id": "other",
              "tokens": None, "n_tok": None, "source": None,
              "schema_change": None, "ts": None}]
    events_df(spark, bogus).write.parquet(seg)
    os.remove(os.path.join(seg, "_SUCCESS"))

    rep = dedup_correct(engine, 4, wal)
    assert rep["resumed_existing_segment"] is False
    assert rep["rows_in"] == 2 and rep["rows_deletes"] == 0
    assert os.path.exists(os.path.join(seg, "_SUCCESS"))
    assert _live(engine) == {
        "dup0": [400, 3, 5, 7, 9, 500],
        "dup1": [401, 501],
        "dup2": [402, 502],
        "other": [1, 2],
    }
    # a committed segment at the (unmoved) watermark is resumed, not rebuilt
    assert dedup_correct(engine, 4, wal)["resumed_existing_segment"] is False
    again = dedup_correct(engine, 4, wal)
    assert again["resumed_existing_segment"] is True and again["rows_in"] == 0


def test_dedup_correct_releases_persisted_frames(spark, tmp_path):
    """One corrective pass leaves no cached frame behind in the session."""
    from file_standardization_etl_spark.operators.tokenize import clear_gate_caches
    from jobs.maintain import dedup_correct

    engine = _dup_engine(spark, str(tmp_path / "cdc"))
    clear_gate_caches()
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    rep = dedup_correct(engine, 4, str(tmp_path / "corrective"))
    assert rep["rows_in"] == 2
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline


def test_order_column_rename_mid_stream_matches_oracle(spark, tmp_path):
    """A ``rename_column last_lsn -> commit_lsn`` DDL mid-batch moves the
    table's recorded order column with it, and a later ``rename_column
    deleted -> is_dead`` its recorded tombstone column. After the
    renames, out-of-order arrival and redelivered (duplicate) events, a
    widened-whitelist requeue (copy-on-write: every rescued LSN is at or
    below the watermark, and some lose to newer state) and a
    tombstone-expiring compact all guard LSNs and read tombstones through
    the renamed columns, and no caller passes a column name. Live state,
    tombstones, quarantine, the vocab aggregate and ``engine.changes()``
    across the renames equal the dict oracle."""
    import copy

    from file_standardization_etl_spark.cdc.events import BAD_SOURCES, SOURCE_WHITELIST
    from file_standardization_etl_spark.cdc.oracle import OracleState, validation_reason
    from tests.test_vocab import maintained, recompute

    widened = SOURCE_WHITELIST + [s for s in BAD_SOURCES if s]
    events = generate_events(
        EventGenConfig(
            n_events=1600, n_docs=90, seed=9100, bad_source_frac=0.15, delete_frac=0.15,
            shuffle_arrival=True, disorder_window=40,
            schema_change_lsns=(500, 1100),
            schema_changes=(
                {"action": "rename_column", "name": "last_lsn", "new_name": "commit_lsn"},
                {"action": "rename_column", "name": "deleted", "new_name": "is_dead"},
            ),
        )
    )

    def between(lo, hi):  # an LSN-coherent slice, arrival order kept
        return [e for e in events if lo < e["lsn"] <= hi]

    eng = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4, maintain_vocab=True)
    eng.init()
    st = OracleState()
    eng.apply_batch(events_df(spark, between(0, 400)), batch_id=0)
    replay(between(0, 400), st)
    v1 = eng.table.current_version()
    live1 = copy.deepcopy(st.live_docs())

    for bid, (lo, hi) in enumerate([(400, 1000), (400, 1000), (900, 1300)], start=1):
        eng.apply_batch(events_df(spark, between(lo, hi)), batch_id=bid)
        replay(between(lo, hi), st)
    snap = eng.table.snapshot()
    assert (snap["order_column"], snap["tombstone_column"]) == ("commit_lsn", "is_dead")
    assert {"last_lsn", "deleted"}.isdisjoint(eng.table.schema().names())

    # requeue: rescued events apply only where their LSN beats the doc's
    rescued = [
        q for q in st.quarantine if validation_reason(q, tuple(widened)) is None
    ]
    stale = 0
    for ev in sorted(rescued, key=lambda e: e["lsn"]):
        doc = st.docs.get(ev["doc_id"])
        if doc is not None and ev["lsn"] <= doc["last_lsn"]:
            stale += 1
            continue
        st.docs[ev["doc_id"]] = {
            "tokens": list(ev["tokens"]), "n_tok": ev["n_tok"],
            "source": ev["source"], "last_lsn": ev["lsn"], "deleted": False,
        }
    st.quarantine = [q for q in st.quarantine if q not in rescued]
    assert eng.requeue_quarantine(widened)["rescued"] == len(rescued)
    assert 0 < stale < len(rescued)

    # tombstone-expiring compact, the expiry read through the order column
    wm = eng.applied_lsn() + 1
    assert any(v["deleted"] for v in st.docs.values())
    eng.table.compact(expire_tombstones_below_lsn=wm)
    st.docs = {k: v for k, v in st.docs.items() if not (v["deleted"] and v["last_lsn"] < wm)}

    eng.apply_batch(events_df(spark, between(1300, 1600)), batch_id=4)
    replay(between(1300, 1600), st)

    def image(tokens, n_tok, source, lsn):
        return (list(tokens or []), n_tok, source, lsn)

    got = {
        r["doc_id"]: image(r["tokens"], r["n_tok"], r["source"], r["commit_lsn"])
        for r in eng.state(include_deleted=True).collect()
    }
    assert got == {
        k: image(v["tokens"], v["n_tok"], v["source"], v["last_lsn"])
        for k, v in st.docs.items()
    }
    assert {r["lsn"]: r["reason"] for r in eng.quarantine().collect()} == {
        q["lsn"]: q["reason"] for q in st.quarantine
    }
    assert maintained(eng) == recompute(eng)

    live2 = st.live_docs()
    want = {("delete", d): v for d, v in live1.items() if d not in live2}
    for d, v in live2.items():
        if d not in live1:
            want[("insert", d)] = v
        elif v["last_lsn"] > live1[d]["last_lsn"]:
            want[("update", d)] = v
    feed = eng.changes(v1)
    assert "commit_lsn" in feed.columns and "last_lsn" not in feed.columns
    assert {
        (r["change_op"], r["doc_id"]):
            image(r["tokens"], r["n_tok"], r["source"], r["commit_lsn"])
        for r in feed.collect()
    } == {
        key: image(v["tokens"], v["n_tok"], v["source"], v["last_lsn"])
        for key, v in want.items()
    }
