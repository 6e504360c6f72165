"""Snapshot bootstrap (initial load at LSN L, then tail the WAL from L):
bootstrap + tail must equal a full replay bitwise; the watermark makes
redelivered pre-bootstrap WAL a no-op; invalid snapshot rows quarantine;
the vocab aggregate stays exact across the bootstrap commit."""

from __future__ import annotations

import pytest

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import (
    EventGenConfig,
    events_df,
    generate_events,
)
from file_standardization_etl_spark.cdc.oracle import replay

from tests.test_cdc import assert_state_matches, fail_once

SNAP_DDL = "doc_id string, tokens array<int>, n_tok int, source string, lsn long"


def snapshot_df(spark, oracle):
    """A consistent source snapshot from the oracle's live state at L."""
    rows = [
        (k, list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in oracle.live_docs().items()
    ]
    return spark.createDataFrame(rows, SNAP_DDL)


def make_engine(spark, tmp_path, name="cdc", **kw) -> CdcEngine:
    e = CdcEngine(spark, str(tmp_path / name), **kw)
    e.init()
    return e


def test_bootstrap_then_tail_matches_full_replay(spark, tmp_path):
    cfg = EventGenConfig(n_events=4000, n_docs=500, seed=23, disorder_window=50)
    events = generate_events(cfg)
    L = 2000
    pre = [e for e in events if e["lsn"] <= L]
    post = [e for e in events if e["lsn"] > L]

    boot = make_engine(spark, tmp_path, "boot")
    m = boot.bootstrap(snapshot_df(spark, replay(pre)), as_of_lsn=L)
    assert m.rows_quarantined == 0 and m.rows_valid == m.rows_in
    assert boot.applied_lsn() == L
    boot.apply_batch(events_df(spark, post), batch_id=1)

    # bitwise equal to the oracle's full replay (incl. per-row last_lsn,
    # which only holds because the snapshot carried per-row LSNs)
    assert_state_matches(boot, replay(events))
    # quarantine holds exactly the post-cut invalid events
    got = {r["lsn"]: r["reason"] for r in boot.quarantine().collect()}
    want = {e["lsn"]: e["reason"] for e in replay(post).quarantine}
    assert got == want


def test_bootstrap_default_lsn_and_redelivered_prefix_noop(spark, tmp_path):
    cfg = EventGenConfig(n_events=3000, n_docs=400, seed=31, disorder_window=40)
    events = generate_events(cfg)
    L = 1500
    pre = [e for e in events if e["lsn"] <= L]
    post = [e for e in events if e["lsn"] > L]

    eng = make_engine(spark, tmp_path)
    snap = snapshot_df(spark, replay(pre)).drop("lsn")  # rows default to L
    eng.bootstrap(snap, as_of_lsn=L)
    # a redelivered pre-bootstrap WAL slice must be fully LSN-filtered
    m = eng.apply_batch(events_df(spark, pre), batch_id=1)
    assert m.rows_in == 0 and eng.applied_lsn() == L
    eng.apply_batch(events_df(spark, post), batch_id=2)

    oracle = replay(events)
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
        for r in eng.state().collect()
    }
    want = {
        k: (list(v["tokens"]), v["n_tok"], v["source"])
        for k, v in oracle.live_docs().items()
    }
    assert got == want  # payloads bitwise; last_lsn differs by design (=L)


def test_bootstrap_validates_and_quarantines(spark, tmp_path, monkeypatch):
    eng = make_engine(spark, tmp_path)
    rows = [
        ("d1", [1, 2, 3], 3, "web", 5),
        ("d2", [1, 2], 3, "web", 6),        # bad_n_tok
        ("d3", [7], 1, "nowhere", 7),       # bad_source
        ("d4", None, 1, "web", 8),          # null_tokens
        ("d5", [], 0, "web", 9),            # empty_tokens
    ]
    snap = spark.createDataFrame(rows, SNAP_DDL)
    # a failed quarantine finalize aborts the bootstrap commit: the table
    # stays fresh (v0) and bootstrap can simply run again
    fail_once(monkeypatch, CdcEngine, "_finalize_quarantine", OSError("finalize failed"))
    with pytest.raises(OSError, match="finalize failed"):
        eng.bootstrap(snap, as_of_lsn=10)
    assert eng.table.current_version() == 0

    m = eng.bootstrap(snap, as_of_lsn=10)
    assert m.rows_in == 5 and m.rows_valid == 1 and m.rows_quarantined == 4
    assert m.quarantine_by_reason == {
        "bad_n_tok": 1, "bad_source": 1, "null_tokens": 1, "empty_tokens": 1,
    }
    assert [r["doc_id"] for r in eng.state().collect()] == ["d1"]
    assert eng.quarantine().count() == 4


def test_bootstrap_guards(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    ok = spark.createDataFrame([("d1", [1], 1, "web", 3)], SNAP_DDL)
    with pytest.raises(ValueError, match="as_of_lsn"):
        eng.bootstrap(ok, as_of_lsn=0)
    dup = spark.createDataFrame(
        [("d1", [1], 1, "web", 3), ("d1", [2], 1, "web", 4)], SNAP_DDL
    )
    with pytest.raises(ValueError, match="one row per doc_id"):
        eng.bootstrap(dup, as_of_lsn=5)
    high = spark.createDataFrame([("d1", [1], 1, "web", 9)], SNAP_DDL)
    with pytest.raises(ValueError, match="lsn range"):
        eng.bootstrap(high, as_of_lsn=5)
    eng.bootstrap(ok, as_of_lsn=5)
    with pytest.raises(ValueError, match="fresh table"):
        eng.bootstrap(ok, as_of_lsn=9)  # double bootstrap

    tailed = make_engine(spark, tmp_path, "tailed")
    events = generate_events(EventGenConfig(n_events=200, n_docs=40, seed=3))
    tailed.apply_batch(events_df(spark, events), batch_id=0)
    with pytest.raises(ValueError, match="fresh table"):
        tailed.bootstrap(ok, as_of_lsn=500)


def test_bootstrap_then_ddl_tail(spark, tmp_path):
    cfg = EventGenConfig(
        n_events=2500, n_docs=300, seed=41, disorder_window=30,
        schema_change_lsns=(1800,),
        schema_changes=(
            {"action": "rename_column", "name": "tokens", "new_name": "toks"},
        ),
    )
    events = generate_events(cfg)
    L = 1000
    pre = [e for e in events if e["lsn"] <= L]
    post = [e for e in events if e["lsn"] > L]
    eng = make_engine(spark, tmp_path)
    eng.bootstrap(snapshot_df(spark, replay(pre)), as_of_lsn=L)
    eng.apply_batch(events_df(spark, post), batch_id=1)
    # rename landed after bootstrap; id-bound reads still line up
    n = eng._names()
    assert n[2] == "toks"
    got = {
        r["doc_id"]: (list(r["toks"]), r["last_lsn"])
        for r in eng.state().collect()
    }
    want = {
        k: (list(v["tokens"]), v["last_lsn"])
        for k, v in replay(events).live_docs().items()
    }
    assert got == want


def test_run_cdc_cli_bootstrap_then_tail(spark, tmp_path, monkeypatch, capsys):
    """jobs/run_cdc.py --bootstrap-snapshot: cold start from a snapshot,
    tail the WAL above its LSN, and a restart with the same flags must
    skip the (now non-fresh) bootstrap and just tail."""
    import jobs.run_cdc as run_cdc
    from file_standardization_etl_spark.cdc.events import events_df as _ev_df

    cfg = EventGenConfig(n_events=1500, n_docs=200, seed=97, disorder_window=30)
    events = generate_events(cfg)
    L = 900
    pre = [e for e in events if e["lsn"] <= L]
    post = [e for e in events if e["lsn"] > L]
    snap_dir = str(tmp_path / "snap")
    snapshot_df(spark, replay(pre)).write.parquet(snap_dir)
    log_dir = str(tmp_path / "wal")
    _ev_df(spark, post).write.parquet(log_dir)

    argv = [
        "run_cdc.py",
        "--log-dir", log_dir,
        "--table-dir", str(tmp_path / "lake"),
        "--n-buckets", "8",
        "--bootstrap-snapshot", snap_dir,
        "--bootstrap-lsn", str(L),
    ]
    monkeypatch.setattr("sys.argv", argv)
    run_cdc.main()
    out1 = capsys.readouterr().out
    assert '"bootstrap"' in out1

    eng = CdcEngine(spark, str(tmp_path / "lake"))
    eng.init()
    assert_state_matches(eng, replay(events))

    # restart with identical flags: bootstrap skipped, state unchanged
    run_cdc.main()
    out2 = capsys.readouterr().out
    assert '"bootstrap"' not in out2
    assert_state_matches(eng, replay(events))


def test_bootstrap_maintains_vocab(spark, tmp_path):
    from tests.test_vocab import maintained, recompute

    cfg = EventGenConfig(n_events=2000, n_docs=250, seed=53, disorder_window=30)
    events = generate_events(cfg)
    L = 1200
    pre = [e for e in events if e["lsn"] <= L]
    post = [e for e in events if e["lsn"] > L]
    eng = make_engine(spark, tmp_path, maintain_vocab=True)
    eng.bootstrap(snapshot_df(spark, replay(pre)), as_of_lsn=L)
    assert maintained(eng) == recompute(eng)  # exact right after bootstrap
    eng.apply_batch(events_df(spark, post), batch_id=1)
    assert maintained(eng) == recompute(eng)  # and after tailing


# the snapshot and WAL types a source may hand over: wider than the
# table's schema v0 (tokens array<int>, n_tok int)
WIDE_SNAP_DDL = "doc_id string, tokens array<bigint>, n_tok long, source string, lsn long"
WIDE_EVENT_DDL = (
    "lsn long, op string, doc_id string, tokens array<bigint>, n_tok bigint, "
    "source string, schema_change string, ts timestamp"
)


def test_wider_input_types_are_written_as_the_recorded_types(spark, tmp_path):
    """A snapshot and a WAL carrying wider types than the table records,
    and an ``update_where`` assigning a bigint: every write lands the
    types its schema version records (the types the schema-bound reads
    declare), so later reads, MOR merges, the state, the vocab and the
    quarantine keep working and equal the oracle."""
    from pyspark.sql import functions as F

    from tests.test_vocab import maintained, recompute

    cfg = EventGenConfig(n_events=2400, n_docs=250, seed=43, disorder_window=40)
    events = generate_events(cfg)
    L = 1200
    pre = [e for e in events if e["lsn"] <= L]
    post = [e for e in events if e["lsn"] > L]
    eng = make_engine(spark, tmp_path, maintain_vocab=True)
    rows = [
        (k, list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in replay(pre).live_docs().items()
    ]
    bad = ("bad_snapshot_row", [1, 2], 3, "web", 1)  # bad_n_tok
    m = eng.bootstrap(spark.createDataFrame(rows + [bad], WIDE_SNAP_DDL), as_of_lsn=L)
    assert m.rows_quarantined == 1 and m.rows_valid == len(rows)

    # a bigint assignment of the stored value: the state stays the
    # oracle's, the rewrite's input type does not
    doc, n_tok = rows[0][0], rows[0][2]
    eng.table.update_where(
        F.col("doc_id") == doc, {"n_tok": F.lit(n_tok).cast("bigint")}
    )

    def wide(evs):
        return spark.createDataFrame(evs, WIDE_EVENT_DDL)

    eng.apply_batch(wide([e for e in post if e["lsn"] <= 1800]), batch_id=1)
    eng.apply_batch(wide([e for e in post if e["lsn"] > 1800]), batch_id=2)
    entries = eng.table._files_load(eng.table.snapshot()).values()
    assert any(e.get("deltas") for e in entries)  # the MOR read path runs

    read = eng.table.read()
    assert {f.name: f.dataType.simpleString() for f in read.schema} == {
        c.name: c.type for c in eng.table.schema().columns
    }
    assert_state_matches(eng, replay(events))
    assert maintained(eng) == recompute(eng)
    got = {r["lsn"]: r["reason"] for r in eng.quarantine().collect()}
    want = {e["lsn"]: e["reason"] for e in replay(post).quarantine}
    assert got == {**want, 1: "bad_n_tok"}
