"""Dead-letter replay: requeue_quarantine re-validates quarantined events
against a widened whitelist and applies the now-valid ones through the
standard LWW merge — superseded rescues must lose to newer state, the
watermark must not move, re-runs must no-op, and the vocab aggregate must
stay exact across the requeue commit."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import (
    EventGenConfig,
    events_df,
    generate_events,
)
from file_standardization_etl_spark.cdc.oracle import replay

from tests.test_cdc import make_engine

# default whitelist + the generator's named bad sources ('' stays bad, so
# some bad_source rows remain quarantined after the requeue)
WIDE = ["web", "books", "code", "wiki", "forum", "spam", "unknown"]


def oracle_after_requeue(events, whitelist):
    """Dict-oracle expectation: replay, then LWW-apply the quarantined
    events that the widened whitelist now admits."""
    st = replay(events)
    rescued = [
        q for q in st.quarantine
        if q["reason"] == "bad_source" and q["source"] in whitelist
    ]
    for ev in sorted(rescued, key=lambda e: e["lsn"]):
        doc = st.docs.get(ev["doc_id"])
        if doc is not None and ev["lsn"] <= doc["last_lsn"]:
            continue
        st.docs[ev["doc_id"]] = {
            "tokens": ev["tokens"], "n_tok": ev["n_tok"],
            "source": ev["source"], "last_lsn": ev["lsn"], "deleted": False,
        }
    remaining = [q for q in st.quarantine if q not in rescued]
    return st, rescued, remaining


def state_dict(engine):
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"], r["last_lsn"])
        for r in engine.state().collect()
    }


def test_requeue_applies_rescues_and_prunes_quarantine(spark, tmp_path):
    cfg = EventGenConfig(n_events=3000, n_docs=400, seed=67, bad_source_frac=0.1)
    events = generate_events(cfg)
    eng = make_engine(spark, tmp_path)
    eng.apply_batch(events_df(spark, events), batch_id=0)
    before_wm = eng.applied_lsn()

    m = eng.requeue_quarantine(WIDE)
    st, rescued, remaining = oracle_after_requeue(events, WIDE)
    assert m["rescued"] == len(rescued) > 0
    assert m["examined"] == len(rescued) + len(remaining)
    assert eng.applied_lsn() == before_wm  # watermark never moves

    want = {
        k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in st.docs.items() if not v["deleted"]
    }
    assert state_dict(eng) == want
    # rescued rows are gone from quarantine; everything else kept
    got_q = {r["lsn"]: r["reason"] for r in eng.quarantine().collect()}
    assert got_q == {q["lsn"]: q["reason"] for q in remaining}

    # idempotent: nothing left to rescue, state unchanged
    m2 = eng.requeue_quarantine(WIDE)
    assert m2["rescued"] == 0 and m2["merged"] == 0
    assert state_dict(eng) == want


def test_requeue_loses_to_newer_state(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    base = {"tokens": [1, 2], "n_tok": 2, "schema_change": None, "ts": None}
    events = [
        {"lsn": 1, "op": "insert", "doc_id": "d1", "source": "nope", **base},
        {"lsn": 2, "op": "update", "doc_id": "d1", "source": "web",
         "tokens": [9], "n_tok": 1, "schema_change": None, "ts": None},
        {"lsn": 3, "op": "insert", "doc_id": "d2", "source": "nope", **base},
    ]
    eng.apply_batch(events_df(spark, events), batch_id=0)
    m = eng.requeue_quarantine(["web", "nope"])
    assert m["rescued"] == 2 and m["merged"] == 2
    got = state_dict(eng)
    # d1's rescue (lsn 1) lost to the applied lsn-2 update; d2 applied
    assert got["d1"] == ([9], 1, "web", 2)
    assert got["d2"] == ([1, 2], 2, "nope", 3)


def test_requeue_appends_only_above_stacked_rows(spark, tmp_path):
    """A requeue chunk sits at or below the watermark, so the lake decides
    how it lands: when no rescued key's bucket stacks a row newer than
    the rescue, it appends (stack depth +1, equal to the fold); when the
    rescued key has a newer stacked row, it folds copy-on-write. Both
    land the dict oracle."""
    from file_standardization_etl_spark.lake.table import bucket_expr

    def ev(lsn, op, source):
        return {"lsn": lsn, "op": op, "doc_id": "a", "source": source,
                "tokens": [lsn, 7], "n_tok": 2, "schema_change": None, "ts": None}

    wl = ["web", "nope"]
    first = [ev(1, "insert", "web"), {**ev(2, "insert", "web"), "doc_id": "b"}]
    cases = {
        "append": [first, [ev(5, "update", "nope")]],
        "fold": [first, [ev(3, "update", "nope"), ev(4, "update", "web")]],
    }
    for case, batches in cases.items():
        eng = CdcEngine(spark, str(tmp_path / case))
        eng.init()
        for i, b in enumerate(batches):
            eng.apply_batch(events_df(spark, b), batch_id=i)
        ba = spark.createDataFrame([("a",)], "doc_id string").select(
            bucket_expr(F.col("doc_id"), eng.table.snapshot()["n_buckets"])
        ).first()[0]

        def depth():
            files = eng.table._files_load(eng.table.snapshot())
            return {int(b): len(e.get("deltas", [])) for b, e in files.items()}

        before = depth()
        assert eng.requeue_quarantine(wl)["rescued"] == 1
        if case == "append":
            assert depth() == {**before, ba: before[ba] + 1}
        else:
            assert before[ba] == 2 and depth()[ba] == 0
        st, _, _ = oracle_after_requeue([e for b in batches for e in b], wl)
        want = {
            k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
            for k, v in st.docs.items() if not v["deleted"]
        }
        assert state_dict(eng) == want, case


def test_requeue_maintains_vocab_exactly(spark, tmp_path):
    from tests.test_vocab import maintained, recompute

    cfg = EventGenConfig(n_events=2000, n_docs=250, seed=71, bad_source_frac=0.12)
    events = generate_events(cfg)
    eng = make_engine(spark, tmp_path, maintain_vocab=True)
    eng.apply_batch(events_df(spark, events), batch_id=0)
    m = eng.requeue_quarantine(WIDE)
    assert m["rescued"] > 0
    assert maintained(eng) == recompute(eng)
    # and a crash-shaped restart folds/discards pendings correctly
    fresh = CdcEngine(spark, str(tmp_path / "cdc"), maintain_vocab=True)
    fresh.init()
    assert maintained(fresh) == recompute(fresh)


def test_requeue_vocab_pending_from_uncommitted_merge_is_discarded(
    spark, tmp_path, monkeypatch
):
    """Crash between the vocab outbox stage and the requeue merge commit:
    recovery must DISCARD the pending (requires_version never appeared) —
    the watermark comparison alone would wrongly fold it."""
    from tests.test_vocab import maintained, recompute
    from file_standardization_etl_spark.lake.table import LakeTable

    cfg = EventGenConfig(n_events=1500, n_docs=200, seed=73, bad_source_frac=0.1)
    events = generate_events(cfg)
    eng = make_engine(spark, tmp_path, maintain_vocab=True)
    eng.apply_batch(events_df(spark, events), batch_id=0)

    real_merge = LakeTable.merge

    def dying_merge(self, *a, **kw):
        if kw.get("pre_commit") is not None:
            kw["pre_commit"]()  # outbox staged durably...
            raise RuntimeError("crash before commit")
        return real_merge(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge", dying_merge)
    try:
        eng.requeue_quarantine(WIDE)
    except RuntimeError:
        pass
    monkeypatch.setattr(LakeTable, "merge", real_merge)

    fresh = CdcEngine(spark, str(tmp_path / "cdc"), maintain_vocab=True)
    fresh.init()  # recovery: pending has requires_version > current -> discard
    assert maintained(fresh) == recompute(fresh)
    # and the rescue can be re-run to completion afterwards
    m = fresh.requeue_quarantine(WIDE)
    assert m["rescued"] > 0
    assert maintained(fresh) == recompute(fresh)


def test_requeue_fenced_below_tombstone_expiry(spark, tmp_path):
    """After tombstone expiry, a rescue below the expiry fence could
    resurrect a deleted doc (its vetoing tombstone is gone) — it must
    stay quarantined instead. The expiring compact records the fence
    itself, as the greatest bound any expiry used."""
    eng = make_engine(spark, tmp_path)
    base = {"n_tok": 2, "schema_change": None, "ts": None}
    events = [
        {"lsn": 1, "op": "insert", "doc_id": "d1", "source": "nope",
         "tokens": [1, 2], **base},
        {"lsn": 2, "op": "delete", "doc_id": "d1", "source": None,
         "tokens": None, "n_tok": None, "schema_change": None, "ts": None},
        {"lsn": 3, "op": "insert", "doc_id": "d2", "source": "web",
         "tokens": [3, 4], **base},
    ]
    eng.apply_batch(events_df(spark, events), batch_id=0)
    # expire tombstones below the watermark, which records the fence —
    # exactly what jobs/maintain.py --compact --expire-tombstones does; a
    # later expiry with a lower bound keeps it
    wm = eng.applied_lsn() + 1
    eng.table.compact(expire_tombstones_below_lsn=wm)
    eng.table.compact(expire_tombstones_below_lsn=wm - 2)
    assert eng.state(include_deleted=True).filter("doc_id = 'd1'").count() == 0
    m = eng.requeue_quarantine(["web", "nope"])
    assert m["rescued"] == 0  # fenced, not rescued
    assert "d1" not in state_dict(eng)  # the deleted doc stays dead
    # the event is still quarantined for a future decision
    assert eng.quarantine().filter("lsn = 1").count() == 1
    assert eng.table.snapshot()["tombstones_expired_below"] == wm


def test_requeue_vocab_uses_own_marker_axis(spark, tmp_path):
    """A requeue commits at the unchanged watermark under the table's
    last batch id, and references its own vocab like any chunk's commit.
    A later redelivery of that same batch — its already-applied half
    filtered, its fresh half a new chunk — must still land its tokens in
    the vocab exactly once."""
    from tests.test_vocab import maintained, recompute

    cfg = EventGenConfig(n_events=1200, n_docs=150, seed=79, bad_source_frac=0.1)
    events = generate_events(cfg)
    eng = make_engine(spark, tmp_path, maintain_vocab=True)
    eng.apply_batch(events_df(spark, events[:600]), batch_id=0)
    props_before = dict(eng.table.properties())
    m = eng.requeue_quarantine(WIDE)
    assert m["rescued"] > 0
    props = eng.table.properties()
    assert int(props["max_applied_lsn"]) == int(props_before["max_applied_lsn"])
    assert int(props["last_batch_id"]) == 0
    assert props["vocab"] != props_before["vocab"]
    assert maintained(eng) == recompute(eng)
    # batch 0 redelivered whole: the first half no-ops on the watermark,
    # the second half is a fresh batch-0 chunk
    eng.apply_batch(events_df(spark, events), batch_id=0)
    assert eng.applied_lsn() > int(props_before["max_applied_lsn"])
    assert maintained(eng) == recompute(eng)


def test_requeue_requires_vocab_aware_engine(spark, tmp_path):
    cfg = EventGenConfig(n_events=600, n_docs=100, seed=83, bad_source_frac=0.1)
    events = generate_events(cfg)
    eng = make_engine(spark, tmp_path, maintain_vocab=True)
    eng.apply_batch(events_df(spark, events), batch_id=0)
    blind = CdcEngine(spark, str(tmp_path / "cdc"))  # no maintain_vocab
    blind.init()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vocab"):
        blind.requeue_quarantine(WIDE)


def test_requeue_after_key_rename_and_rebucket(spark, tmp_path):
    """Requeue must keep working when the table has drifted from its
    wire-format shape: key column renamed by DDL (delta binds by the
    snapshot key name) and bucket layout migrated (affected buckets
    computed against the CURRENT n_buckets, not the one the rows were
    quarantined under)."""
    cfg = EventGenConfig(
        n_events=1200, n_docs=150, seed=89, bad_source_frac=0.12,
        schema_change_lsns=(600,),
        schema_changes=(
            {"action": "rename_column", "name": "doc_id", "new_name": "document"},
        ),
    )
    events = generate_events(cfg)
    eng = make_engine(spark, tmp_path)
    eng.apply_batch(events_df(spark, events), batch_id=0)
    eng.table.rebucket(7)  # grow/shrink after quarantining
    m = eng.requeue_quarantine(WIDE)
    st, rescued, remaining = oracle_after_requeue(events, WIDE)
    assert m["rescued"] == len(rescued) > 0
    key = eng._names()[1]
    assert key == "document"
    got = {
        r[key]: (list(r["tokens"]), r["n_tok"], r["source"], r["last_lsn"])
        for r in eng.state().collect()
    }
    want = {
        k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in st.docs.items() if not v["deleted"]
    }
    assert got == want
    assert eng.quarantine().count() == len(remaining)


def test_fuzz_lifecycle_bootstrap_crash_requeue(spark, tmp_path, monkeypatch):
    """Whole-lifecycle fuzz (2 seeded cases): snapshot bootstrap at a
    random LSN, crash-injected tail with redelivery, one or two
    mid-stream requeues with a widened whitelist, DDL interleaved —
    final state, quarantine, and the vocab aggregate must equal the dict
    oracle extended with the requeue rule."""
    import random as _random

    from file_standardization_etl_spark.cdc.oracle import (
        OracleState,
        validation_reason,
    )
    from tests.test_bootstrap import snapshot_df
    from tests.test_vocab import maintained, recompute

    orig = CdcEngine._merge_chunk
    for case in range(2):
        rng = _random.Random(4200 + case)
        n_events = 1600
        ddl = (
            {"action": "rename_column", "name": "source", "new_name": "origin"},
        )
        cfg = EventGenConfig(
            n_events=n_events, n_docs=120, seed=4300 + case,
            bad_source_frac=0.12, disorder_window=40,
            schema_change_lsns=(1200,) if case else (),
            schema_changes=ddl if case else (),
        )
        events = generate_events(cfg)
        L = rng.choice([400, 600])
        pre = [e for e in events if e["lsn"] <= L]
        post = [e for e in events if e["lsn"] > L]

        wd = str(tmp_path / f"case{case}")
        eng = CdcEngine(spark, wd, maintain_vocab=True)
        eng.init()
        o_pre = replay(pre)
        eng.bootstrap(snapshot_df(spark, o_pre), as_of_lsn=L)

        # oracle state continues from the snapshot: live docs only (the
        # quarantined/tombstoned prefix is NOT carried — exactly what a
        # consistent source snapshot contains)
        st = OracleState(
            docs={k: dict(v) for k, v in o_pre.live_docs().items()},
            max_applied_lsn=L,
        )

        def oracle_requeue(wl):
            rescued = [
                q for q in st.quarantine if validation_reason(q, tuple(wl)) is None
            ]
            for ev in sorted(rescued, key=lambda e: e["lsn"]):
                doc = st.docs.get(ev["doc_id"])
                if doc is not None and ev["lsn"] <= doc["last_lsn"]:
                    continue
                st.docs[ev["doc_id"]] = {
                    "tokens": ev["tokens"], "n_tok": ev["n_tok"],
                    "source": ev["source"], "last_lsn": ev["lsn"],
                    "deleted": False,
                }
            st.quarantine = [q for q in st.quarantine if q not in rescued]
            return len(rescued)

        cuts = sorted(rng.sample(range(L + 100, n_events - 50), 2))
        batches = [
            [e for e in post if lo < e["lsn"] <= hi]
            for lo, hi in zip([L] + cuts, cuts + [n_events])
        ]
        countdown = {"n": rng.randint(1, 2)}

        def crashing(self, *a, **kw):
            countdown["n"] -= 1
            if countdown["n"] == 0:
                raise RuntimeError("injected crash")
            return orig(self, *a, **kw)

        armed = True
        for i, b in enumerate(batches, start=1):
            if armed and rng.random() < 0.8:
                monkeypatch.setattr(CdcEngine, "_merge_chunk", crashing)
                try:
                    eng.apply_batch(events_df(spark, b), batch_id=i)
                except RuntimeError:
                    monkeypatch.setattr(CdcEngine, "_merge_chunk", orig)
                    eng = CdcEngine(spark, wd, maintain_vocab=True)
                    eng.init()
                    eng.apply_batch(events_df(spark, b), batch_id=i)
                finally:
                    monkeypatch.setattr(CdcEngine, "_merge_chunk", orig)
                armed = False
            else:
                eng.apply_batch(events_df(spark, b), batch_id=i)
            replay(b, st)
            if rng.random() < 0.6:
                got = eng.requeue_quarantine(WIDE)
                want = oracle_requeue(WIDE)
                assert got["rescued"] == want
            if rng.random() < 0.4:  # redeliver an old batch: must no-op
                j = rng.randint(0, i - 1)
                eng.apply_batch(events_df(spark, batches[j]), batch_id=j + 1)

        got = {
            r[0]: (list(r[1]), r[2], r[3], r[4])
            for r in eng.state().select(
                eng._names()[1], eng._names()[2], eng._names()[3],
                eng._names()[4], eng._names()[5],
            ).collect()
        }
        want = {
            k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
            for k, v in st.docs.items() if not v["deleted"]
        }
        assert got == want
        assert eng.quarantine().count() == len(st.quarantine)
        assert maintained(eng) == recompute(eng)


def test_init_recovers_interrupted_archive_swap(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    events = generate_events(EventGenConfig(n_events=500, n_docs=80, seed=77))
    eng.apply_batch(events_df(spark, events), batch_id=0)
    eng.compact_quarantine()
    before = {r["lsn"] for r in eng.quarantine().collect()}
    assert before
    # simulate a crash between the two renames: only .old exists
    os.rename(eng.quarantine_archive_path, eng.quarantine_archive_path + ".old")
    fresh = CdcEngine(spark, str(tmp_path / "cdc"))
    fresh.init()
    assert {r["lsn"] for r in fresh.quarantine().collect()} == before
    # and a completed swap with a dangling .old drops the leftover
    shutil.copytree(
        fresh.quarantine_archive_path, fresh.quarantine_archive_path + ".old"
    )
    again = CdcEngine(spark, str(tmp_path / "cdc"))
    again.init()
    assert not os.path.isdir(again.quarantine_archive_path + ".old")
    assert {r["lsn"] for r in again.quarantine().collect()} == before


def test_requeue_skips_rows_above_watermark_after_failed_commit(
    spark, tmp_path, monkeypatch
):
    """A chunk's quarantine settles before its commit, so a failed commit
    leaves rows above the watermark in quarantine until the chunk is
    redelivered. A requeue in that window must leave them there: applying
    them would put live docs above the watermark (breaking merge-on-read's
    newest-delta-wins read for the redelivered stream) while redelivery
    quarantines the same events again."""
    from file_standardization_etl_spark.lake.table import LakeTable

    cfg = EventGenConfig(n_events=2000, n_docs=300, seed=67, bad_source_frac=0.1)
    events = generate_events(cfg)
    cut = 1000
    b0 = [e for e in events if e["lsn"] <= cut]
    b1 = [e for e in events if e["lsn"] > cut]
    eng = make_engine(spark, tmp_path)
    eng.apply_batch(events_df(spark, b0), batch_id=0)
    wm = eng.applied_lsn()

    real_commit = LakeTable._commit
    calls = {"n": 0}

    def failing_commit(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("commit failed")
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "_commit", failing_commit)
    try:
        eng.apply_batch(events_df(spark, b1), batch_id=1)
    except RuntimeError:
        pass
    monkeypatch.setattr(LakeTable, "_commit", real_commit)
    assert calls["n"] == 1 and eng.applied_lsn() == wm
    # the failed chunk's quarantine rows are in place, above the watermark
    assert eng.quarantine().filter(F.col("lsn") > wm).count() > 0

    eng = CdcEngine(spark, str(tmp_path / "cdc"))
    eng.init()  # restarted process
    m = eng.requeue_quarantine(WIDE)
    assert m["rescued"] > 0
    assert eng.applied_lsn() == wm
    assert eng.state().filter(F.col("last_lsn") > wm).count() == 0

    eng.apply_batch(events_df(spark, b1), batch_id=1)  # redelivery
    st, rescued, _ = oracle_after_requeue(b0, WIDE)
    replay(b1, st)
    want = {
        k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in st.docs.items() if not v["deleted"]
    }
    assert state_dict(eng) == want
    got_q = {r["lsn"]: r["reason"] for r in eng.quarantine().collect()}
    assert got_q == {q["lsn"]: q["reason"] for q in st.quarantine if q not in rescued}
