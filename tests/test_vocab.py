"""Incrementally-maintained token-vocabulary aggregate (cdc/aggregates.py)
vs a full recompute from final table state — exactly-once under
redelivery and crash/resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import (
    EventGenConfig,
    events_df,
    generate_events,
)


def make_engine(spark, tmp_path, **kw) -> CdcEngine:
    e = CdcEngine(spark, str(tmp_path / "cdc"), maintain_vocab=True, **kw)
    e.init()
    return e


def recompute(engine: CdcEngine):
    """O(corpus) ground truth: explode every live token array."""
    n = engine._names()
    from file_standardization_etl_spark.cdc.apply import FID_DOC, FID_TOKENS

    rows = (
        engine.state()
        .select(
            F.col(n[FID_DOC]).alias("doc_id"),
            F.explode(F.col(n[FID_TOKENS])).alias("t"),
        )
        .groupBy(F.col("t").cast("bigint").alias("token"))
        .agg(F.count(F.lit(1)).alias("n_occ"), F.countDistinct("doc_id").alias("n_docs"))
        .collect()
    )
    return {r["token"]: (r["n_occ"], r["n_docs"]) for r in rows}


def maintained(engine: CdcEngine):
    return {r["token"]: (r["n_occ"], r["n_docs"]) for r in engine.vocab().collect()}


def test_vocab_matches_recompute_after_multi_batch_replay(spark, tmp_path):
    cfg = EventGenConfig(n_events=4000, n_docs=200, seed=19, shuffle_arrival=True)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    for i, lo in enumerate(range(0, len(events), 1000)):
        engine.apply_batch(events_df(spark, events[lo : lo + 1000]), batch_id=i)
    assert maintained(engine) == recompute(engine)


def test_vocab_redelivery_is_noop(spark, tmp_path):
    cfg = EventGenConfig(n_events=2000, n_docs=100, seed=23)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    b0, b1 = events[:1000], events[1000:]
    engine.apply_batch(events_df(spark, b0), batch_id=0)
    engine.apply_batch(events_df(spark, b0), batch_id=0)  # redelivery
    engine.apply_batch(events_df(spark, b1), batch_id=1)
    engine.apply_batch(events_df(spark, b1), batch_id=1)
    assert maintained(engine) == recompute(engine)


def test_event_delivered_twice_in_one_batch_lands_once(spark, tmp_path):
    """An event delivered twice within one batch lands once, as in the
    dict oracle: one table row per doc, one vocab contribution and one
    quarantine row per event — for an insert into an empty table and for
    an update over a stored row."""
    from file_standardization_etl_spark.cdc.oracle import replay

    base = {"schema_change": None, "ts": None}
    ins = {"lsn": 1, "op": "insert", "doc_id": "d1", "tokens": [1, 2], "n_tok": 2,
           "source": "web", **base}
    bad = {"lsn": 2, "op": "insert", "doc_id": "d2", "tokens": [3], "n_tok": 1,
           "source": "nope", **base}
    upd = {"lsn": 3, "op": "update", "doc_id": "d1", "tokens": [4], "n_tok": 1,
           "source": "web", **base}
    engine = make_engine(spark, tmp_path)
    m = engine.apply_batch(events_df(spark, [ins, ins, bad, bad]), batch_id=0)
    assert [(r["doc_id"], r["last_lsn"]) for r in engine.table.read().collect()] == [
        ("d1", 1)
    ]
    assert maintained(engine) == {1: (1, 1), 2: (1, 1)}
    assert [r["lsn"] for r in engine.quarantine().collect()] == [2]
    assert m.rows_quarantined == 1

    engine.apply_batch(events_df(spark, [upd, upd]), batch_id=1)
    want = replay([ins, ins, bad, bad, upd, upd])
    assert [
        (r["doc_id"], list(r["tokens"]), r["last_lsn"])
        for r in engine.table.read().collect()
    ] == [(k, v["tokens"], v["last_lsn"]) for k, v in want.docs.items()]
    assert maintained(engine) == recompute(engine) == {4: (1, 1)}
    assert engine.quarantine().count() == len(want.quarantine)


def test_dml_refused_on_engine_table(spark, tmp_path):
    """``delete_where`` / ``update_where`` on the engine's target, which
    records a tombstone column, raise before reading anything: a physical
    delete would leave no tombstone and a stale vocab. The table, its
    version and the vocab stay as they were."""
    engine = make_engine(spark, tmp_path)
    events = generate_events(EventGenConfig(n_events=600, n_docs=40, seed=31))
    engine.apply_batch(events_df(spark, events), batch_id=0)
    v = engine.table.current_version()
    doc = engine.state().first()["doc_id"]
    with pytest.raises(ValueError, match="apply_batch"):
        engine.table.delete_where(F.col("doc_id") == doc)
    with pytest.raises(ValueError, match="apply_batch"):
        engine.table.update_where(F.col("doc_id") == doc, {"tokens": F.array()})
    assert engine.table.current_version() == v
    assert maintained(engine) == recompute(engine)


def test_vocab_survives_ddl_interleaved_replay(spark, tmp_path):
    """Type-widen + rename mid-stream: the old-side read binds by field
    id, so maintenance keeps working across the schema changes."""
    cfg = EventGenConfig(
        n_events=3000,
        n_docs=150,
        seed=29,
        schema_change_lsns=(1000, 2000),
        schema_changes=(
            {"action": "add_column", "name": "tag", "type": "string"},
            {"action": "rename_column", "name": "tokens", "new_name": "tok_ids"},
        ),
    )
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    for i, lo in enumerate(range(0, len(events), 1500)):
        engine.apply_batch(events_df(spark, events[lo : lo + 1500]), batch_id=i)
    assert maintained(engine) == recompute(engine)


def vocab_dirs(engine: CdcEngine) -> list[str]:
    """Vocab dirs on disk under the target's data/, referenced or not."""
    root = os.path.join(engine.table.path, "data")
    return sorted(n for n in os.listdir(root) if n.startswith("vocab"))


def test_vocab_crash_between_merge_and_fold_recovers(spark, tmp_path, monkeypatch):
    """The vocab commits with the target, so both crash windows of a
    chunk's commit need no recovery: a crash after the stage but before
    the commit leaves an unreferenced dir and redelivery restages; a
    crash right after the commit leaves a published vocab and the
    redelivery is a no-op. Either way a restarted engine reads the
    recount."""
    from file_standardization_etl_spark.lake.table import LakeTable

    cfg = EventGenConfig(n_events=3000, n_docs=100, seed=31)
    events = generate_events(cfg)
    b0, b1, b2 = events[:1000], events[1000:2000], events[2000:]
    engine = make_engine(spark, tmp_path)
    engine.apply_batch(events_df(spark, b0), batch_id=0)
    real_commit = LakeTable._commit

    def before(self, snap, expected_version):
        raise RuntimeError("simulated crash before the commit")

    def after(self, snap, expected_version):
        real_commit(self, snap, expected_version)
        raise RuntimeError("simulated crash after the commit")

    for i, (crash, batch) in enumerate(((before, b1), (after, b2)), start=1):
        v = engine.table.current_version()
        referenced = engine.table.properties()["vocab"]
        monkeypatch.setattr(LakeTable, "_commit", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            engine.apply_batch(events_df(spark, batch), batch_id=i)
        monkeypatch.setattr(LakeTable, "_commit", real_commit)
        if crash is before:
            # the stage wrote its dir, nothing references it
            assert engine.table.current_version() == v
            assert engine.table.properties()["vocab"] == referenced
            assert len(vocab_dirs(engine)) == i + 1
        else:
            assert engine.table.current_version() == v + 1
            assert engine.table.properties()["vocab"] != referenced

        fresh = make_engine(spark, tmp_path)  # restarted process
        fresh.apply_batch(events_df(spark, batch), batch_id=i)  # redelivery
        assert maintained(fresh) == recompute(fresh)
        engine = fresh


def test_vocab_pending_from_uncommitted_merge_is_discarded(spark, tmp_path):
    """A vocab dir no snapshot references — a crashed stage's, forged
    here newer than the real one and with bogus counts — is never read:
    not by ``vocab()``, not by the next chunk's stage, which sums the dir
    its snapshot references. Snapshot GC collects it."""
    cfg = EventGenConfig(n_events=2000, n_docs=80, seed=37)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    engine.apply_batch(events_df(spark, events[:1000]), batch_id=0)
    before = maintained(engine)

    forged = os.path.join(engine.table.path, "data", "vocab99-deadbeef")
    spark.createDataFrame(
        [(999999, 5, 5)], "token long, n_occ long, n_docs long"
    ).write.parquet(forged)

    fresh = make_engine(spark, tmp_path)
    assert maintained(fresh) == before  # forged dir never read
    fresh.apply_batch(events_df(spark, events[1000:]), batch_id=1)
    assert maintained(fresh) == recompute(fresh)
    assert 999999 not in maintained(fresh)
    fresh.table.expire_snapshots(keep_last=1, grace_seconds=0)
    assert not os.path.exists(forged)
    assert maintained(fresh) == recompute(fresh)


def test_vocab_blind_engine_cannot_desync_vocab_table(spark, tmp_path):
    """An engine whose ``maintain_vocab`` disagrees with the table's
    record must refuse to write before anything commits — a vocab-blind
    batch between two vocab batches (the ingest job restarted without
    --maintain-vocab) would otherwise leave the vocab permanently off
    the recount. The same holds for bootstrap, and for a vocab engine on
    a table that never kept one."""
    from file_standardization_etl_spark.cdc.oracle import replay
    from tests.test_bootstrap import snapshot_df

    cfg = EventGenConfig(n_events=3000, n_docs=120, seed=41)
    events = generate_events(cfg)
    b0, b1, b2 = events[:1000], events[1000:2000], events[2000:]
    engine = make_engine(spark, tmp_path)
    engine.apply_batch(events_df(spark, b0), batch_id=0)
    v = engine.table.current_version()
    blind = CdcEngine(spark, str(tmp_path / "cdc"))
    blind.init()
    with pytest.raises(ValueError, match="vocab"):
        blind.apply_batch(events_df(spark, b1), batch_id=1)
    assert engine.table.current_version() == v  # nothing committed
    engine.apply_batch(events_df(spark, b1), batch_id=1)
    engine.apply_batch(events_df(spark, b2), batch_id=2)
    assert maintained(engine) == recompute(engine)

    plain = CdcEngine(spark, str(tmp_path / "plain"))
    plain.init()
    plain.apply_batch(events_df(spark, b0), batch_id=0)
    v = plain.table.current_version()
    late = CdcEngine(spark, str(tmp_path / "plain"), maintain_vocab=True)
    late.init()
    with pytest.raises(ValueError, match="vocab"):
        late.apply_batch(events_df(spark, b1), batch_id=1)
    assert plain.table.current_version() == v

    make_engine(spark, tmp_path / "boot")  # a fresh table with the record
    with pytest.raises(ValueError, match="vocab"):
        CdcEngine(spark, str(tmp_path / "boot" / "cdc")).bootstrap(
            snapshot_df(spark, replay(b0)), as_of_lsn=1000
        )


def test_vocab_dirs_collected_by_expire_snapshots(spark, tmp_path):
    """Each chunk's commit references a new vocab dir; snapshot GC keeps
    exactly the ones its kept snapshots reference. ``history()`` reports
    their bytes apart from the bucket files' ``bytes``."""
    cfg = EventGenConfig(n_events=3000, n_docs=150, seed=43)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    for i, lo in enumerate(range(0, len(events), 500)):
        engine.apply_batch(events_df(spark, events[lo : lo + 500]), batch_id=i)
    assert len(vocab_dirs(engine)) == 6
    engine.table.expire_snapshots(keep_last=1, grace_seconds=0)
    referenced = engine.table.properties()["vocab"]
    assert vocab_dirs(engine) == [os.path.basename(referenced)]
    head = engine.table.history()[-1]
    assert head["side_bytes"] == engine.table._dir_bytes(referenced) > 0
    assert maintained(engine) == recompute(engine)


def test_vocab_deletes_retract_counts(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    base = {
        "op": "insert", "source": "web", "schema_change": None, "ts": None,
    }
    evs = [
        {**base, "lsn": 1, "doc_id": "a", "tokens": [1, 1, 2], "n_tok": 3},
        {**base, "lsn": 2, "doc_id": "b", "tokens": [2, 3], "n_tok": 2},
    ]
    engine.apply_batch(events_df(spark, evs), batch_id=0)
    assert maintained(engine) == {1: (2, 1), 2: (2, 2), 3: (1, 1)}
    upd = [
        {**base, "lsn": 3, "op": "update", "doc_id": "a", "tokens": [3], "n_tok": 1},
        {**base, "lsn": 4, "op": "delete", "doc_id": "b", "tokens": None,
         "n_tok": None, "source": None},
    ]
    engine.apply_batch(events_df(spark, upd), batch_id=1)
    # a: [1,1,2] -> [3]; b (tokens [2,3]) deleted -> only a's single 3 left
    assert maintained(engine) == {3: (1, 1)}
    assert maintained(engine) == recompute(engine)


def test_vocab_stage_shuffle_fallback_past_broadcast_gate(spark, tmp_path, monkeypatch):
    """Past BROADCAST_MAX_ROWS the stage's pre-image key frame must shuffle
    instead of broadcasting (a 10^7-row micro-batch's key set is too big
    to ship to every executor) — same counts either way; and with Spark's
    own broadcast threshold off, the unhinted pre-image join shuffles too
    and the counts still equal the recount."""
    from file_standardization_etl_spark.cdc import aggregates as agg

    cfg = EventGenConfig(n_events=3000, n_docs=150, seed=31, shuffle_arrival=True)
    events = generate_events(cfg)
    # case 1: the row gate trips (the key frame is not hinted);
    # case 2: rows pass, but no join may be broadcast by size — the
    # pre-image join to the chunk carries no hint and must shuffle
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for sub in ("rows", "bytes"):
        if sub == "rows":
            monkeypatch.setattr(agg.TokenVocab, "BROADCAST_MAX_ROWS", 1)
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            engine = make_engine(spark, tmp_path / sub)
            for i, lo in enumerate(range(0, len(events), 1000)):
                engine.apply_batch(events_df(spark, events[lo : lo + 1000]), batch_id=i)
            assert maintained(engine) == recompute(engine), sub
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
            monkeypatch.undo()


def test_vocab_batch_jobs_are_labelled_by_phase(spark, tmp_path):
    """Every Spark job a vocab batch runs — on the batch's own thread or
    on the engine's pool — carries, as its ``spark.job.description`` in
    the status store, the ``CdcEngine.timings`` label of the phase that
    issued it: appends and the fold batch alike."""
    cfg = EventGenConfig(n_events=2000, n_docs=120, seed=43)
    events = generate_events(cfg)
    engine = make_engine(spark, tmp_path)
    sc = spark.sparkContext._jsc.sc()
    for i, lo in enumerate(range(0, len(events), 400)):
        first = sc.dagScheduler().numTotalJobs()
        engine.apply_batch(events_df(spark, events[lo : lo + 400]), batch_id=i)
        last = sc.dagScheduler().numTotalJobs()
        sc.listenerBus().waitUntilEmpty()
        labels = {}
        for j in range(first, last):
            d = sc.statusStore().job(j).description()
            labels[j] = d.get() if d.isDefined() else None
        assert labels and set(labels.values()) <= set(engine.timings), (i, labels)
        assert {"lww_and_stats", "routed_write", "merge", "vocab_stage"} <= set(
            labels.values()
        ), (i, labels)
    snap = engine.table.snapshot()
    assert any(e.get("path") for e in engine.table._files_load(snap).values())  # a fold ran
    assert maintained(engine) == recompute(engine)
