"""End-to-end CDC replay vs the pure-Python dict oracle (bitwise
token-array equality — the BASELINE.json judging criterion)."""

from __future__ import annotations

import pytest

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.dedup import lww_winners
from file_standardization_etl_spark.cdc.events import (
    BAD_SOURCES,
    SOURCE_WHITELIST,
    EventGenConfig,
    events_df,
    generate_events,
)
from file_standardization_etl_spark.cdc.oracle import OracleState, replay


def assert_state_matches(engine: CdcEngine, oracle: OracleState):
    spark_state = {
        r["doc_id"]: (list(r["tokens"]) if r["tokens"] is not None else None, r["n_tok"], r["source"], r["last_lsn"])
        for r in engine.state().collect()
    }
    oracle_state = {
        k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in oracle.live_docs().items()
    }
    assert spark_state == oracle_state  # bitwise token arrays, lsn, source
    assert engine.applied_lsn() >= oracle.max_applied_lsn


def make_engine(spark, tmp_path, **kw) -> CdcEngine:
    e = CdcEngine(spark, str(tmp_path / "cdc"), **kw)
    e.init()
    return e


def fail_once(monkeypatch, owner, attr: str, exc: BaseException) -> None:
    """Make ``owner.attr`` raise ``exc`` on its next call only."""
    orig = getattr(owner, attr)

    def once(*a, **kw):
        monkeypatch.setattr(owner, attr, orig)
        raise exc

    monkeypatch.setattr(owner, attr, once)


def test_single_batch_matches_oracle(spark, tmp_path):
    cfg = EventGenConfig(n_events=3000, n_docs=300, seed=7)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    m = engine.apply_batch(events_df(spark, events), batch_id=0)
    oracle = replay(events)
    assert_state_matches(engine, oracle)
    assert m.rows_quarantined == len(oracle.quarantine)
    # quarantine contents match (lsn → reason)
    got = {r["lsn"]: r["reason"] for r in engine.quarantine().collect()}
    want = {e["lsn"]: e["reason"] for e in oracle.quarantine}
    assert got == want


def test_multi_batch_out_of_order_arrival(spark, tmp_path):
    cfg = EventGenConfig(n_events=4000, n_docs=200, seed=11, shuffle_arrival=True)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    oracle = OracleState()
    # slice by arrival order (events within each slice are lsn-shuffled)
    for i, lo in enumerate(range(0, len(events), 1000)):
        sl = events[lo : lo + 1000]
        engine.apply_batch(events_df(spark, sl), batch_id=i)
        oracle = replay(sl, oracle)
    assert_state_matches(engine, oracle)


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may re-deliver a batch after a crash — must be a no-op."""
    cfg = EventGenConfig(n_events=2000, n_docs=100, seed=3)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    b0, b1 = events[:1000], events[1000:]
    engine.apply_batch(events_df(spark, b0), batch_id=0)
    v_after_b0 = engine.table.current_version()
    engine.apply_batch(events_df(spark, b0), batch_id=0)  # redelivery
    engine.apply_batch(events_df(spark, b1), batch_id=1)
    engine.apply_batch(events_df(spark, b1), batch_id=1)  # redelivery
    oracle = replay(events)
    assert_state_matches(engine, oracle)
    # quarantine not duplicated either
    assert engine.quarantine().count() == len(oracle.quarantine)


def test_delete_not_resurrected_by_lower_lsn(spark, tmp_path):
    """Tombstone keeps last_lsn: a straggler update with lower LSN arriving
    in a later batch must not resurrect the doc (SURVEY.md §7.4)."""
    engine = make_engine(spark, tmp_path)
    ins = {
        "lsn": 1, "op": "insert", "doc_id": "d1", "tokens": [1, 2], "n_tok": 2,
        "source": "web", "schema_change": None, "ts": None,
    }
    dele = {**ins, "lsn": 5, "op": "delete", "tokens": None, "n_tok": None, "source": None}
    engine.apply_batch(events_df(spark, [ins, dele]), batch_id=0)
    assert engine.state().count() == 0
    # straggler with lsn 3 (< 5) arrives later: global watermark alone would
    # drop it; even engines without the watermark must honor last_lsn
    late = {**ins, "lsn": 3, "tokens": [9], "n_tok": 1}
    engine.apply_batch(events_df(spark, [late]), batch_id=1)
    assert engine.state().count() == 0


def test_schema_change_interleaved_with_data(spark, tmp_path):
    changes = (
        {"action": "add_column", "name": "quality", "type": "double"},
        {"action": "rename_column", "name": "source", "new_name": "origin"},
        {"action": "widen_type", "name": "n_tok", "type": "bigint"},
    )
    cfg = EventGenConfig(
        n_events=3000, n_docs=150, seed=5,
        schema_change_lsns=(500, 1500, 2500), schema_changes=changes,
    )
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    engine.apply_batch(events_df(spark, events), batch_id=0)
    oracle = replay(events)
    # schema evolved: renamed + added + widened, ingestion unbroken
    names = engine.table.schema().names()
    assert "origin" in names and "quality" in names and "source" not in names
    assert dict(engine.state().dtypes)["n_tok"] == "bigint"
    # state equality modulo the renamed column
    spark_state = {
        r["doc_id"]: (list(r["tokens"]), int(r["n_tok"]), r["origin"], r["last_lsn"])
        for r in engine.state().collect()
    }
    oracle_state = {
        k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in oracle.live_docs().items()
    }
    assert spark_state == oracle_state
    assert len(engine.table.snapshot()["schema_log"]) == 3


def test_hot_key_salted_path_equals_unsalted(spark, tmp_path):
    """90%-one-key batch (SURVEY.md §7.2 step 6): forced salting must give
    the same final state as the plain path."""
    cfg = EventGenConfig(n_events=2000, n_docs=5, seed=13, zipf_a=1.05)
    events = generate_events(cfg)
    hot = make_engine(spark, tmp_path, salt_threshold=10)  # force salting
    cold_dir = tmp_path / "cold"
    cold = CdcEngine(spark, str(cold_dir), salt_threshold=10**9)
    cold.init()
    mh = hot.apply_batch(events_df(spark, events), batch_id=0)
    mc = cold.apply_batch(events_df(spark, events), batch_id=0)
    assert mh.salted and not mc.salted
    oracle = replay(events)
    assert_state_matches(hot, oracle)
    assert_state_matches(cold, oracle)


def test_lww_variants_agree(spark):
    """dedup's LWW, salted and unsalted, picks the oracle's winner per doc
    (greatest lsn, its op) and counts the doc's rows."""
    cfg = EventGenConfig(n_events=5000, n_docs=50, seed=17, zipf_a=1.1)
    events = [e for e in generate_events(cfg) if e["op"] != "schema_change"]
    want: dict = {}
    for e in sorted(events, key=lambda e: e["lsn"]):
        cnt = want.get(e["doc_id"], (0, False, 0))[2]
        want[e["doc_id"]] = (e["lsn"], e["op"] == "delete", cnt + 1)
    df = events_df(spark, events)
    for salted in (False, True):
        got = {
            r["doc_id"]: (r["lsn"], r["win_del"], r["cnt"])
            for r in lww_winners(df, salted=salted).collect()
        }
        assert got == want, f"salted={salted}"
    assert any(d for _, d, _ in want.values())  # fixture has delete winners


def test_manifest_lineage(spark, tmp_path):
    cfg = EventGenConfig(n_events=1000, n_docs=100, seed=23)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    m = engine.apply_batch(events_df(spark, events), batch_id=0)
    manifests = engine.manifest()
    assert len(manifests) == 1
    j = manifests[0]
    assert j["batch_id"] == 0
    assert j["rows_in"] == 1000
    assert j["lsn_min"] == 1 and j["lsn_max"] == 1000
    assert sum(p["rows"] for p in j["partitions"]) == 1000
    assert j["rows_quarantined"] == len(replay(events).quarantine)
    assert j["max_key_rows"] >= 1


def test_quarantine_reader_tolerates_crashed_empty_tree(spark, tmp_path):
    """Crash-recovery state: the quarantine tree exists (finalize died
    between makedirs and rename) but holds no parquet — quarantine() must
    return the typed empty frame, not an inference error."""
    import os

    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    os.makedirs(os.path.join(engine.quarantine_path, "batch_id=0"))
    q = engine.quarantine()
    assert q.count() == 0
    assert "reason" in q.columns and "doc_id" in q.columns


def test_rename_key_column_mid_stream(spark, tmp_path):
    """Renaming the KEY column itself mid-stream: field-id binding must
    keep ingestion, LWW, bucket pruning, and MERGE working — events keep
    saying 'doc_id' (their schema is the wire format), the table key
    becomes 'document_key', and the final state matches the oracle."""
    cfg = EventGenConfig(
        n_events=2000,
        n_docs=120,
        seed=83,
        schema_change_lsns=(1000,),
        schema_changes=({"action": "rename_column", "name": "doc_id",
                         "new_name": "document_key"},),
    )
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=8)
    engine.init()
    first = [e for e in events if e["lsn"] <= 1200]   # DDL lands inside batch 0
    second = [e for e in events if e["lsn"] > 1200]
    engine.apply_batch(events_df(spark, first), batch_id=0)
    assert engine.table.snapshot()["key_column"] == "document_key"
    engine.apply_batch(events_df(spark, second), batch_id=1)

    st = engine.state()
    assert "document_key" in st.columns and "doc_id" not in st.columns
    got = {r["document_key"]: (list(r["tokens"]), r["last_lsn"]) for r in st.collect()}
    oracle = replay(events)
    want = {k: (list(v["tokens"]), v["last_lsn"]) for k, v in oracle.live_docs().items()}
    assert got == want
    assert engine.quarantine().count() == len(oracle.quarantine)


def test_widen_tokens_array_mid_stream(spark, tmp_path):
    """widen_type on the token ARRAY (array<int> -> array<bigint>) while
    events keep arriving as array<int>: merge's when/otherwise branches
    must coerce, old files reconcile by cast, and the final state matches
    the oracle."""
    cfg = EventGenConfig(
        n_events=1500, n_docs=80, seed=91,
        schema_change_lsns=(700,),
        schema_changes=({"action": "widen_type", "name": "tokens",
                         "type": "array<bigint>"},),
    )
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    engine.apply_batch(events_df(spark, [e for e in events if e["lsn"] <= 800]), batch_id=0)
    engine.apply_batch(events_df(spark, [e for e in events if e["lsn"] > 800]), batch_id=1)
    got = {r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()}
    want = {k: (list(v["tokens"]), v["last_lsn"]) for k, v in replay(events).live_docs().items()}
    assert got == want


def test_rename_onto_wire_reserved_name_rejected_before_commit(spark, tmp_path):
    """A rename_column targeting a wire-format name must be rejected AT
    DDL APPLICATION, before the schema commits or the watermark advances
    — otherwise the poison DDL wedges every future merge."""
    import pytest as _pytest

    cfg = EventGenConfig(
        n_events=600, n_docs=40, seed=97,
        schema_change_lsns=(300,),
        schema_changes=({"action": "rename_column", "name": "doc_id",
                         "new_name": "op"},),
    )
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    with _pytest.raises(ValueError, match="wire-reserved"):
        engine.apply_batch(events_df(spark, events), batch_id=0)
    # the schema did NOT change and data events before the DDL applied
    assert engine.table.snapshot()["key_column"] == "doc_id"
    assert engine.table.schema().version == 1
    assert 0 < engine.applied_lsn() < 300

def test_add_column_onto_wire_reserved_name_rejected_before_commit(spark, tmp_path):
    """An add_column named '_bucket' (or any wire field) is as poisonous
    as a rename onto one: _write_buckets' withColumn('_bucket', ...)
    would silently overwrite the added column's data with hash-bucket
    ids on every merge. It must be rejected at DDL application, before
    the schema commits — silent corruption is worse than the error the
    rename path already gets."""
    import pytest as _pytest

    cfg = EventGenConfig(
        n_events=600, n_docs=40, seed=98,
        schema_change_lsns=(300,),
        schema_changes=({"action": "add_column", "name": "_bucket",
                         "type": "bigint"},),
    )
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    with _pytest.raises(ValueError, match="wire-reserved"):
        engine.apply_batch(events_df(spark, events), batch_id=0)
    assert engine.table.schema().version == 1
    assert 0 < engine.applied_lsn() < 300


def test_init_sweeps_stale_quarantine_staging(spark, tmp_path):
    """A crash between the quarantine staging write and its rename leaves
    _staging/quar_b*_c* behind; staging is disposable, so engine init
    sweeps it and ingest proceeds normally."""
    import os

    root = str(tmp_path / "cdc")
    engine = CdcEngine(spark, root, n_buckets=4)
    engine.init()
    stale = os.path.join(root, "_staging", "quar_b0_c0")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "w") as f:
        f.write("junk")
    # a fresh engine on the same table (restart after crash) sweeps it
    engine2 = CdcEngine(spark, root, n_buckets=4)
    engine2.init()
    assert not os.path.exists(stale)
    # ingest proceeds normally afterwards
    events = generate_events(EventGenConfig(n_events=400, n_docs=30, seed=99))
    engine2.apply_batch(events_df(spark, events), batch_id=0)
    got = {r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine2.state().collect()}
    want = {k: (list(v["tokens"]), v["last_lsn"]) for k, v in replay(events).live_docs().items()}
    assert got == want


def test_replay_over_chunked_manifest_table(spark, tmp_path, monkeypatch):
    """Full CDC replay (multi-batch, out-of-order, redelivery) against a
    table whose bucket layout exceeds the inline-manifest threshold: every
    merge commit goes through the chunked manifest list (only intersecting
    chunk files rewritten), and the final state still matches the dict
    oracle bitwise."""
    import os

    from file_standardization_etl_spark.lake.table import LakeTable

    monkeypatch.setattr(LakeTable, "MANIFEST_INLINE_MAX", 8)
    monkeypatch.setattr(LakeTable, "MANIFEST_CHUNK", 4)
    cfg = EventGenConfig(n_events=3000, n_docs=200, seed=23, shuffle_arrival=True)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path, n_buckets=16)
    oracle = OracleState()
    for i, lo in enumerate(range(0, len(events), 1000)):
        sl = events[lo : lo + 1000]
        engine.apply_batch(events_df(spark, sl), batch_id=i)
        if i == 1:  # crash-redelivery mid-stream
            engine.apply_batch(events_df(spark, sl), batch_id=i)
        oracle = replay(sl, oracle)
    snap = engine.table.snapshot()
    assert "files" not in snap and sum(c["n"] for c in snap["manifest_list"]) <= 16
    assert_state_matches(engine, oracle)
    # maintenance over the chunked layout: GC keeps the live state readable
    stats = engine.table.expire_snapshots(keep_last=2, grace_seconds=0.0)
    assert stats["snapshots_deleted"] >= 1
    assert_state_matches(engine, oracle)
    mdir = os.path.join(engine.table.path, "_meta", "manifests")
    live = {c["file"] for v in (snap["version"] - 1, snap["version"])
            for c in engine.table.snapshot(v).get("manifest_list", [])}
    assert set(os.listdir(mdir)) == live  # orphan chunks collected exactly


def test_many_micro_batches_build_and_fold_mor_stacks(spark, tmp_path):
    """Live-table cadence through the merge's own policy: 14
    micro-batches must append merge-on-read delta stacks, hit
    ``MOR_MAX_STACK`` mid-stream and fold back copy-on-write with NO
    maintenance call, absorb a DDL add_column and a crash-redelivery,
    and still land bitwise equal to the dict oracle. This is the CDC
    integration of what test_lake_mor.py proves at the table layer."""
    from file_standardization_etl_spark.lake.table import LakeTable

    changes = ({"action": "add_column", "name": "quality", "type": "double"},)
    cfg = EventGenConfig(
        n_events=4200, n_docs=120, seed=29,
        schema_change_lsns=(2101,), schema_changes=changes,
    )
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    oracle = OracleState()
    max_stack_seen, folds_seen, prev_stack = 0, 0, 0
    step = 300
    for i, lo in enumerate(range(0, len(events), step)):
        sl = events[lo : lo + step]
        engine.apply_batch(events_df(spark, sl), batch_id=i)
        if i == 5:  # crash-redelivery mid-stream: must be a no-op
            v = engine.table.current_version()
            engine.apply_batch(events_df(spark, sl), batch_id=i)
            assert engine.table.current_version() == v
        oracle = replay(sl, oracle)
        snap = engine.table.snapshot()
        stack = max(
            (len(e.get("deltas") or []) for e in engine.table._files_load(snap).values()),
            default=0,
        )
        max_stack_seen = max(max_stack_seen, stack)
        if stack < prev_stack:
            folds_seen += 1
        prev_stack = stack
    assert max_stack_seen >= 2, "MOR path never engaged"
    assert max_stack_seen <= LakeTable.MOR_MAX_STACK
    assert folds_seen >= 1, "auto fold never happened mid-stream"
    assert_state_matches(engine, oracle)
    q = {r["lsn"]: r["reason"] for r in engine.quarantine().collect()}
    assert q == {e["lsn"]: e["reason"] for e in oracle.quarantine}


def test_randomized_replay_matches_oracle(spark, tmp_path):
    """Property check across randomized stream shapes: random batch
    boundaries, random DDL positions/kinds, random redelivery of a prefix
    of already-applied batches — every combination must land on the dict
    oracle's exact final state (the fixed-slicing tests above each pin
    one shape; this sweeps the space)."""
    import random as _random

    for case in range(4):
        rng = _random.Random(1000 + case)
        n_events = rng.choice([1500, 2500, 4000])
        n_docs = rng.choice([50, 150, 400])
        kinds = [
            {"action": "add_column", "name": f"extra{case}", "type": "double"},
            {"action": "rename_column", "name": "source", "new_name": f"src{case}"},
            {"action": "widen_type", "name": "n_tok", "type": "bigint"},
        ]
        n_ddl = rng.randint(0, 2)
        ddl_lsns = tuple(sorted(rng.sample(range(100, n_events - 100), n_ddl)))
        changes = tuple(rng.choice(kinds) for _ in range(n_ddl))
        # rename+add could collide with a later rename target; keep kinds unique
        if len({c["action"] for c in changes}) < len(changes):
            changes = tuple(kinds[:n_ddl])
        cfg = EventGenConfig(
            n_events=n_events, n_docs=n_docs, seed=2000 + case,
            schema_change_lsns=ddl_lsns, schema_changes=changes,
            disorder_window=rng.choice([1, 50, 300]),
        )
        events = generate_events(cfg)
        # WAL contract: batches must be LSN-coherent slices — arrival
        # disorder exists only WITHIN a disorder window, so batch cuts
        # must land on window boundaries (an arbitrary cut would make the
        # engine legitimately drop below-watermark stragglers).
        w = cfg.disorder_window
        aligned = [i for i in range(w, n_events, w)]
        cuts = sorted(rng.sample(aligned, min(rng.randint(1, 4), len(aligned))))
        slices = [
            events[lo:hi]
            for lo, hi in zip([0] + cuts, cuts + [n_events])
        ]
        engine = make_engine(
            spark,
            tmp_path / f"case{case}",
            # vocab IVM rides along under the same randomized shapes —
            # redelivery/DDL/disorder must leave the aggregate exact too
            maintain_vocab=True,
        )
        for i, sl in enumerate(slices):
            engine.apply_batch(events_df(spark, sl), batch_id=i)
            if rng.random() < 0.5:  # crash window: redeliver an old batch
                j = rng.randint(0, i)
                engine.apply_batch(events_df(spark, slices[j]), batch_id=j)
        oracle = replay(events)
        src_col = next(
            (c["new_name"] for c in changes if c["action"] == "rename_column"),
            "source",
        )
        got = {
            r["doc_id"]: (list(r["tokens"]), int(r["n_tok"]), r[src_col], r["last_lsn"])
            for r in engine.state().collect()
        }
        want = {
            k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
            for k, v in oracle.live_docs().items()
        }
        assert got == want, f"case {case}: state diverged"
        assert engine.quarantine().count() == len(oracle.quarantine), f"case {case}"
        from collections import Counter

        occ, docs = Counter(), Counter()
        for v in oracle.live_docs().values():
            occ.update(v["tokens"])
            docs.update(set(v["tokens"]))
        got_vocab = {
            r["token"]: (r["n_occ"], r["n_docs"]) for r in engine.vocab().collect()
        }
        assert got_vocab == {t: (occ[t], docs[t]) for t in occ}, (
            f"case {case}: vocab diverged"
        )


def _oracle_diff(events, k):
    """Expected changelog between the state after events[:k] and the
    final state: (op, doc_id) -> image dict (before for deletes)."""
    live1 = replay(events[:k]).live_docs()
    live2 = replay(events).live_docs()
    out = {}
    for d, v in live2.items():
        if d not in live1:
            out[("insert", d)] = v
        elif v["last_lsn"] > live1[d]["last_lsn"]:
            out[("update", d)] = v
    for d, v in live1.items():
        if d not in live2:
            out[("delete", d)] = v
    return out


def test_changes_feed_matches_oracle_diff(spark, tmp_path):
    """The table EMITS a changelog between snapshots: insert/update/
    delete classification and before/after images must equal the dict
    oracle's state diff."""
    cfg = EventGenConfig(n_events=4000, n_docs=250, seed=23)
    events = generate_events(cfg)
    k = 2000
    engine = make_engine(spark, tmp_path)
    engine.apply_batch(events_df(spark, events[:k]), batch_id=0)
    v1 = engine.table.current_version()
    engine.apply_batch(events_df(spark, events[k:]), batch_id=1)
    v2 = engine.table.current_version()

    want = _oracle_diff(events, k)
    got = {
        (r["change_op"], r["doc_id"]): r
        for r in engine.changes(v1, v2).collect()
    }
    assert set(got) == set(want)
    assert any(op == "delete" for op, _ in got), "fixture produced no deletes"
    assert any(op == "update" for op, _ in got)
    for (op, d), r in got.items():
        w = want[(op, d)]
        assert list(r["tokens"] or []) == list(w["tokens"] or []), (op, d)
        assert r["last_lsn"] == w["last_lsn"], (op, d)
        assert r["source"] == w["source"], (op, d)

    # identical snapshots -> manifest fast path, zero rows, right schema
    none = engine.changes(v2, v2)
    assert none.count() == 0
    assert none.columns[0] == "change_op"


def test_changes_feed_across_rename_and_widen(spark, tmp_path):
    """A rename + widen between the two snapshots must not misalign the
    diff: old side reconciled to the v_to schema by column id."""
    cfg = EventGenConfig(
        n_events=3000, n_docs=150, seed=31,
        schema_change_lsns=(1500,),
        schema_changes=(
            {"action": "rename_column", "name": "source", "new_name": "origin"},
        ),
    )
    events = generate_events(cfg)
    k = 1000  # cut BEFORE the DDL: v1 has the old name, v2 the new
    engine = make_engine(spark, tmp_path)
    engine.apply_batch(events_df(spark, events[:k]), batch_id=0)
    v1 = engine.table.current_version()
    engine.apply_batch(events_df(spark, events[k:]), batch_id=1)
    v2 = engine.table.current_version()

    want = _oracle_diff(events, k)
    feed = engine.changes(v1, v2)
    assert "origin" in feed.columns and "source" not in feed.columns
    got = {(r["change_op"], r["doc_id"]): r for r in feed.collect()}
    assert set(got) == set(want)
    for (op, d), r in got.items():
        assert list(r["tokens"] or []) == list(want[(op, d)]["tokens"] or [])
        assert r["origin"] == want[(op, d)]["source"], (op, d)


def _crash_batch_before_commit(spark, tmp_path, monkeypatch, events, cut):
    """Apply ``events[:cut]``, then crash batch 1 after its chunk's
    quarantine dir was promoted but before its merge committed."""
    import os

    from file_standardization_etl_spark.lake.table import LakeTable

    engine = make_engine(spark, tmp_path)
    engine.apply_batch(events_df(spark, events[:cut]), batch_id=0)
    before = engine.applied_lsn()
    fail_once(monkeypatch, LakeTable, "_commit", RuntimeError("crash before commit"))
    with pytest.raises(RuntimeError, match="crash before commit"):
        engine.apply_batch(events_df(spark, events[cut:]), batch_id=1)
    assert engine.applied_lsn() == before
    assert os.listdir(os.path.join(engine.quarantine_path, "batch_id=1"))
    return engine


def _assert_quarantine_matches(engine, oracle):
    """Every oracle quarantine row once, none without a reason."""
    from pyspark.sql import functions as F

    q = engine.quarantine()
    assert len(oracle.quarantine) > 0
    assert q.count() == len(oracle.quarantine)
    assert q.select("lsn").distinct().count() == q.count()
    assert q.filter(F.col("reason").isNull()).count() == 0


def test_init_recovers_quarantine_staged_by_crashed_run(spark, tmp_path, monkeypatch):
    """A crash after a chunk's quarantine dir was promoted but before its
    merge committed, with staged quarantine of every shape a dying run
    can leave (routed b*_c*/route=q slices, a reasoned quar_b*_c* with
    _SUCCESS): staging is disposable, so init() sweeps _staging whole and
    redelivery recovers the oracle's state and quarantine."""
    import os
    import shutil

    events = generate_events(EventGenConfig(n_events=2000, n_docs=100, seed=53))
    engine = _crash_batch_before_commit(spark, tmp_path, monkeypatch, events, 1000)

    stg = os.path.join(engine.table_path, "_staging")
    (crashed,) = os.listdir(stg)
    shutil.copytree(
        os.path.join(stg, crashed, "route=q"), os.path.join(stg, "b7_c0", "route=q")
    )
    b0 = os.path.join(engine.quarantine_path, "batch_id=0")
    shutil.copytree(
        os.path.join(b0, sorted(os.listdir(b0))[0]), os.path.join(stg, "quar_b8_c0")
    )
    assert os.path.exists(os.path.join(stg, "quar_b8_c0", "_SUCCESS"))

    fresh = CdcEngine(spark, engine.table_path)
    fresh.init()
    assert not os.path.exists(stg)
    fresh.apply_batch(events_df(spark, events[1000:]), batch_id=1)
    oracle = replay(events)
    assert_state_matches(fresh, oracle)
    _assert_quarantine_matches(fresh, oracle)


def test_init_recovery_crash_mid_recovery_write_loses_nothing(spark, tmp_path, monkeypatch):
    """Crashes during the recovery itself: a partial staged quar_ write
    is left, the next init()'s sweep of _staging dies half-way, and the
    redelivery after it crashes before its commit again. Each restart
    (init + redelivery) must still end at the oracle's state and
    quarantine, with nothing lost or doubled."""
    import os
    import shutil

    from file_standardization_etl_spark.lake.table import LakeTable

    events = generate_events(EventGenConfig(n_events=1600, n_docs=100, seed=77))
    engine = _crash_batch_before_commit(spark, tmp_path, monkeypatch, events, 800)

    stg = os.path.join(engine.table_path, "_staging")
    partial = os.path.join(stg, "quar_b9_c0")
    os.makedirs(os.path.join(partial, "_temporary"))
    with open(os.path.join(partial, "part-corrupt.parquet"), "w") as f:
        f.write("not parquet")

    # restart 1: the sweep removes one staged dir, then the process dies
    real_rmtree = shutil.rmtree

    def dying_sweep(path, *a, **kw):
        if os.path.normpath(path) == os.path.normpath(stg):
            real_rmtree(os.path.join(stg, sorted(os.listdir(stg))[0]))
            raise RuntimeError("crash mid sweep")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", dying_sweep)
    with pytest.raises(RuntimeError, match="crash mid sweep"):
        CdcEngine(spark, engine.table_path).init()
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    assert os.listdir(stg)  # the sweep was cut short

    # restart 2: the sweep completes; the redelivery crashes before commit
    second = CdcEngine(spark, engine.table_path)
    second.init()
    assert not os.path.exists(stg)
    fail_once(monkeypatch, LakeTable, "_commit", RuntimeError("crash again"))
    with pytest.raises(RuntimeError, match="crash again"):
        second.apply_batch(events_df(spark, events[800:]), batch_id=1)

    # restart 3: init + redelivery land exactly the oracle
    fresh = CdcEngine(spark, engine.table_path)
    fresh.init()
    assert not os.path.exists(stg)
    fresh.apply_batch(events_df(spark, events[800:]), batch_id=1)
    oracle = replay(events)
    assert_state_matches(fresh, oracle)
    _assert_quarantine_matches(fresh, oracle)


def test_failed_side_job_aborts_the_commit(spark, tmp_path, monkeypatch):
    """A quarantine finalize that fails aborts its chunk's commit: the
    watermark stays put, and a same-engine retry with no init() — the
    way a resident session retries a micro-batch — quarantines every
    invalid row."""
    from pyspark.sql import functions as F

    events = generate_events(EventGenConfig(n_events=800, n_docs=60, seed=53))
    engine = make_engine(spark, tmp_path)
    fail_once(monkeypatch, CdcEngine, "_finalize_quarantine", OSError("finalize failed"))
    with pytest.raises(OSError, match="finalize failed"):
        engine.apply_batch(events_df(spark, events), batch_id=0)
    assert engine.applied_lsn() == 0

    engine.apply_batch(events_df(spark, events), batch_id=0)
    oracle = replay(events)
    assert_state_matches(engine, oracle)
    q = engine.quarantine()
    assert len(oracle.quarantine) > 0
    assert q.count() == len(oracle.quarantine)
    assert q.filter(F.col("reason").isNull()).count() == 0


def test_crash_between_chunks_redelivery_no_wedge_no_quarantine_loss(
    spark, tmp_path, monkeypatch
):
    """Crash DURING the chunk after a mid-batch DDL, then redeliver the
    whole batch. Two past defects are pinned here:

    1. The DDL and the watermark advance ride ONE commit — with separate
       commits, a redelivered DDL event (lsn > stale watermark) re-ran
       apply_schema_change, which is not idempotent, and wedged the
       stream forever ('column exists').
    2. Quarantine chunk dirs are keyed by the chunk's max data LSN, not
       its positional index — positionally, the redelivered tail chunk
       renumbers to chunk 0 and its finalize rmtree'd the FIRST chunk's
       already-finalized quarantine rows (permanent loss: redelivery is
       LSN-filtered past the finalize)."""
    cfg = EventGenConfig(
        n_events=2400, n_docs=150, seed=211,
        schema_change_lsns=(1200,),
        schema_changes=({"action": "add_column", "name": "lang", "type": "string"},),
    )
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)

    calls = {"n": 0}
    orig = CdcEngine._merge_chunk

    def crashing(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # second chunk's merge = after DDL committed
            raise RuntimeError("simulated crash mid-batch")
        return orig(self, *a, **kw)

    monkeypatch.setattr(CdcEngine, "_merge_chunk", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.apply_batch(events_df(spark, events), batch_id=0)
    monkeypatch.setattr(CdcEngine, "_merge_chunk", orig)

    # chunk0 committed, DDL committed atomically with the watermark
    assert engine.applied_lsn() == 1200
    assert engine.table.schema().version == 2
    q_before = engine.quarantine().count()
    assert q_before > 0  # chunk0's quarantine rows are finalized

    # redelivery of the full batch: DDL below watermark filters out;
    # surviving tail chunk must neither re-apply DDL nor clobber chunk0's
    # quarantine dir
    fresh = CdcEngine(spark, engine.table_path)
    fresh.init()
    fresh.apply_batch(events_df(spark, events), batch_id=0)
    oracle = replay(events)
    assert_state_matches(fresh, oracle)
    assert fresh.quarantine().count() == len(oracle.quarantine)
    # chunk0's rows were never lost (the crashed chunk's finalize quiesces
    # on the exception path, so q_before may already include chunk1's rows
    # — redelivery replaces that dir bit-identically)
    assert fresh.quarantine().count() >= q_before


def test_no_persisted_rdd_leak_on_chunk_failure(spark, tmp_path, monkeypatch):
    """An exception mid-chunk (commit conflict, IO error, rejected DDL)
    must not leave the cached LWW winner set pinned in storage — retried
    foreachBatch failures would leak one persisted dataset per attempt."""
    events = generate_events(EventGenConfig(n_events=800, n_docs=60, seed=314))
    engine = make_engine(spark, tmp_path)

    def boom(self, *a, **kw):
        raise RuntimeError("simulated merge failure")

    monkeypatch.setattr(CdcEngine, "_merge_chunk", boom)
    with pytest.raises(RuntimeError, match="simulated merge failure"):
        engine.apply_batch(events_df(spark, events), batch_id=0)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() == 0, f"{jmap.size()} persisted RDDs leaked"

    # requeue re-enters through the same chunk pipeline, so a failed
    # rescue merge leaks nothing and changes neither state nor quarantine
    monkeypatch.undo()
    engine.apply_batch(events_df(spark, events), batch_id=0)
    state_before = sorted(map(tuple, engine.state().collect()))
    quar_before = sorted(map(tuple, engine.quarantine().collect()))
    monkeypatch.setattr(CdcEngine, "_merge_chunk", boom)
    widened = SOURCE_WHITELIST + [s for s in BAD_SOURCES if s]
    with pytest.raises(RuntimeError, match="simulated merge failure"):
        engine.requeue_quarantine(widened)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() == 0, f"{jmap.size()} persisted RDDs leaked by requeue"
    assert sorted(map(tuple, engine.state().collect())) == state_before
    assert sorted(map(tuple, engine.quarantine().collect())) == quar_before


def test_fuzz_crash_inject_redelivery_matches_oracle(spark, tmp_path, monkeypatch):
    """Randomized crash-injection sweep (2 seeded cases; a 10-case run of
    the same generator is kept green out-of-suite): random stream shape +
    DDL, a simulated crash inside a random chunk's merge, engine restart,
    full-batch redelivery, random old-batch redelivery — final state,
    quarantine, and the vocab IVM must all equal the dict oracle."""
    import random as _random
    from collections import Counter

    orig = CdcEngine._merge_chunk
    for case in range(2):
        rng = _random.Random(9100 + case)
        n_events = 1500
        ddl_lsns = tuple(sorted(rng.sample(range(100, n_events - 100), 2)))
        changes = (
            {"action": "add_column", "name": f"x{case}", "type": "double"},
            {"action": "widen_type", "name": "n_tok", "type": "bigint"},
        )
        w = rng.choice([1, 100])
        cfg = EventGenConfig(
            n_events=n_events, n_docs=100, seed=8100 + case,
            schema_change_lsns=ddl_lsns, schema_changes=changes,
            disorder_window=w,
        )
        events = generate_events(cfg)
        aligned = [i for i in range(w, n_events, w)]
        cuts = sorted(rng.sample(aligned, min(2, len(aligned))))
        slices = [events[lo:hi] for lo, hi in zip([0] + cuts, cuts + [n_events])]

        wd = str(tmp_path / f"case{case}")
        engine = CdcEngine(spark, wd, maintain_vocab=True)
        engine.init()
        countdown = {"n": rng.randint(1, 3)}

        def crashing(self, *a, **kw):
            countdown["n"] -= 1
            if countdown["n"] == 0:
                raise RuntimeError("injected crash")
            return orig(self, *a, **kw)

        armed = True
        for i, sl in enumerate(slices):
            if armed and rng.random() < 0.7:
                monkeypatch.setattr(CdcEngine, "_merge_chunk", crashing)
                try:
                    engine.apply_batch(events_df(spark, sl), batch_id=i)
                except RuntimeError:
                    monkeypatch.setattr(CdcEngine, "_merge_chunk", orig)
                    engine = CdcEngine(spark, wd, maintain_vocab=True)
                    engine.init()  # restarted process
                    engine.apply_batch(events_df(spark, sl), batch_id=i)
                finally:
                    monkeypatch.setattr(CdcEngine, "_merge_chunk", orig)
                armed = False
            else:
                engine.apply_batch(events_df(spark, sl), batch_id=i)
            if rng.random() < 0.4:
                j = rng.randint(0, i)
                engine.apply_batch(events_df(spark, slices[j]), batch_id=j)

        oracle = replay(events)
        assert_state_matches(engine, oracle)
        assert engine.quarantine().count() == len(oracle.quarantine)
        occ, docs = Counter(), Counter()
        for v in oracle.live_docs().values():
            for t in v["tokens"]:
                occ[t] += 1
            for t in set(v["tokens"]):
                docs[t] += 1
        vgot = {r["token"]: (r["n_occ"], r["n_docs"]) for r in engine.vocab().collect()}
        assert vgot == {t: (occ[t], docs[t]) for t in occ}


def test_partially_redelivered_batch_counts_only_fresh_rows(spark, tmp_path):
    """A batch without DDL is one chunk whose lineage is the batch probe's
    (the per-partition aggregate that also counts DDL rows). On a
    redelivery whose first half is at or below the watermark, the probe
    sees only the fresh half: rows_in counts it, the manifest lineage sums
    to rows_in, and the state still equals the oracle."""
    cfg = EventGenConfig(n_events=2000, n_docs=200, seed=37)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    # slice edges on the generator's 200-event disorder windows, so every
    # slice is LSN-coherent (the WAL contract)
    engine.apply_batch(events_df(spark, events[:1000]), batch_id=0)
    wm = engine.applied_lsn()
    redelivered = events[600:1400]
    fresh = [e for e in redelivered if e["lsn"] > wm]
    assert len(fresh) == len(redelivered) // 2

    m = engine.apply_batch(events_df(spark, redelivered), batch_id=1)
    assert (m.chunks, m.schema_changes, m.rows_in) == (1, 0, len(fresh))
    assert (m.lsn_min, m.lsn_max) == (
        min(e["lsn"] for e in fresh), max(e["lsn"] for e in fresh)
    )
    j = engine.manifest()[-1]
    assert j["batch_id"] == 1 and j["rows_in"] == len(fresh)
    assert sum(p["rows"] for p in j["partitions"]) == j["rows_in"]
    assert len(j["partitions"]) > 1  # several input partitions carried rows

    engine.apply_batch(events_df(spark, events[1400:]), batch_id=2)
    oracle = replay(events)
    assert_state_matches(engine, oracle)
    assert engine.quarantine().count() == len(oracle.quarantine)


def test_target_without_order_column_refused(spark, tmp_path):
    """A target whose snapshot records no order column (the layout before
    the lake recorded one) would merge as a plain upsert, where stale and
    out-of-order events win: the write path and bootstrap refuse it
    before anything commits."""
    from file_standardization_etl_spark.cdc.apply import TARGET_COLUMNS
    from file_standardization_etl_spark.lake.table import LakeTable

    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    LakeTable.create(
        spark, engine.table.path, TARGET_COLUMNS, key_column="doc_id", n_buckets=4,
        properties={"max_applied_lsn": 0, "last_batch_id": -1},
    )
    engine.init()
    events = generate_events(EventGenConfig(n_events=200, n_docs=20, seed=5))
    with pytest.raises(ValueError, match="order column"):
        engine.apply_batch(events_df(spark, events), batch_id=0)
    with pytest.raises(ValueError, match="order column"):
        engine.bootstrap(
            spark.createDataFrame(
                [("d1", [1], 1, "web")],
                "doc_id string, tokens array<int>, n_tok int, source string",
            ),
            as_of_lsn=1,
        )
    assert engine.table.current_version() == 0
    assert engine.applied_lsn() == 0
