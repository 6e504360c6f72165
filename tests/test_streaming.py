"""Structured Streaming ingestion: drain, incremental tail, crash-resume
with and without the Spark checkpoint (engine watermark as second layer)."""

from __future__ import annotations

import shutil

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import (
    EVENT_SCHEMA,
    EventGenConfig,
    events_df,
    generate_events,
)
from file_standardization_etl_spark.cdc.oracle import replay
from file_standardization_etl_spark.streaming.runner import StreamingCdcRunner


def write_segment(spark, log_dir, events, name):
    events_df(spark, events).coalesce(1).write.mode("append").parquet(str(log_dir))


def state_dict(engine):
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"], r["last_lsn"])
        for r in engine.state().collect()
    }


def oracle_dict(oracle):
    return {
        k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in oracle.live_docs().items()
    }


def test_stream_drain_matches_oracle(spark, tmp_path):
    log_dir = tmp_path / "wal"
    cfg = EventGenConfig(n_events=2000, n_docs=150, seed=51)
    events = generate_events(cfg)
    # two WAL segments
    write_segment(spark, log_dir, events[:1000], "seg0")
    write_segment(spark, log_dir, events[1000:], "seg1")

    engine = CdcEngine(spark, str(tmp_path / "lake"))
    engine.init()
    runner = StreamingCdcRunner(spark, str(log_dir), engine, max_files_per_trigger=1)
    runner.run_available_now()
    assert len(runner.batches_seen) >= 2  # one micro-batch per segment
    assert state_dict(engine) == oracle_dict(replay(events))


def test_stream_resume_after_stop(spark, tmp_path):
    """Stop after draining part of the log; new segments arrive; a fresh
    runner resumes from the Spark checkpoint without re-applying."""
    log_dir = tmp_path / "wal"
    # segment cut must align to the disorder window (WAL LSN-coherence)
    cfg = EventGenConfig(n_events=3000, n_docs=200, seed=53, disorder_window=100)
    events = generate_events(cfg)
    write_segment(spark, log_dir, events[:1500], "seg0")

    engine = CdcEngine(spark, str(tmp_path / "lake"))
    engine.init()
    StreamingCdcRunner(spark, str(log_dir), engine).run_available_now()
    v_mid = engine.table.current_version()

    write_segment(spark, log_dir, events[1500:], "seg1")
    # fresh runner object == restarted driver; same checkpoint dir
    StreamingCdcRunner(spark, str(log_dir), engine).run_available_now()
    assert state_dict(engine) == oracle_dict(replay(events))
    assert engine.quarantine().count() == len(replay(events).quarantine)


def test_stream_lost_checkpoint_still_exactly_once(spark, tmp_path):
    """Blow away the Spark checkpoint between runs: the source re-delivers
    everything, and the engine's own watermark must absorb it."""
    log_dir = tmp_path / "wal"
    cfg = EventGenConfig(n_events=1500, n_docs=100, seed=59)
    events = generate_events(cfg)
    write_segment(spark, log_dir, events, "seg0")

    engine = CdcEngine(spark, str(tmp_path / "lake"))
    engine.init()
    runner = StreamingCdcRunner(spark, str(log_dir), engine)
    runner.run_available_now()
    state_before = state_dict(engine)

    shutil.rmtree(runner.checkpoint_dir)  # lose Spark's offsets
    StreamingCdcRunner(spark, str(log_dir), engine).run_available_now()
    assert state_dict(engine) == state_before == oracle_dict(replay(events))
    assert engine.quarantine().count() == len(replay(events).quarantine)


def test_stream_fallback_incremental_plan_matches_oracle(spark, tmp_path, monkeypatch):
    """The offset-log rewrite is an optimization with a Spark-internal
    format dependency; the fallback (incremental streaming plan) must be
    equally correct. Force it — an offset log that does not parse yields
    no files — and compare against the oracle."""
    log_dir = tmp_path / "wal"
    cfg = EventGenConfig(n_events=2000, n_docs=150, seed=61)
    events = generate_events(cfg)
    write_segment(spark, log_dir, events[:1000], "seg0")
    write_segment(spark, log_dir, events[1000:], "seg1")

    engine = CdcEngine(spark, str(tmp_path / "lake"))
    engine.init()
    runner = StreamingCdcRunner(spark, str(log_dir), engine, max_files_per_trigger=1)
    monkeypatch.setattr(runner, "_batch_files", lambda batch_id: [])
    runner.run_available_now()
    assert state_dict(engine) == oracle_dict(replay(events))


def test_batch_files_guards_offset_log_format(spark, tmp_path):
    """Any deviation from the expected FileStreamSource offset-log format
    must degrade to [] (incremental plan), never crash or return junk."""
    engine = CdcEngine(spark, str(tmp_path / "lake"))
    runner = StreamingCdcRunner(spark, str(tmp_path / "wal"), engine)
    src = tmp_path / "lake" / "_stream_checkpoint" / "sources" / "0"
    src.mkdir(parents=True)

    def put(batch_id, text):
        (src / str(batch_id)).write_text(text)

    put(0, 'v1\n{"path":"file:///a.parquet","timestamp":1,"batchId":0}\n')
    assert runner._batch_files(0) == ["file:///a.parquet"]
    put(1, 'v2\n{"path":"file:///a.parquet"}\n')      # future log version
    assert runner._batch_files(1) == []
    put(2, 'v1\nnot-json\n')                           # garbage payload
    assert runner._batch_files(2) == []
    put(3, 'v1\n{"timestamp":1}\n')                    # entry without path
    assert runner._batch_files(3) == []
    put(4, "")                                         # empty file
    assert runner._batch_files(4) == []
    assert runner._batch_files(99) == []               # absent file


def test_batch_files_reads_compact_offset_log(spark, tmp_path):
    """Every compactInterval-th batch is logged as <N>.compact with the
    full history; _batch_files must filter it by batchId instead of
    silently dropping the optimization."""
    engine = CdcEngine(spark, str(tmp_path / "lake"))
    runner = StreamingCdcRunner(spark, str(tmp_path / "wal"), engine)
    src = tmp_path / "lake" / "_stream_checkpoint" / "sources" / "0"
    src.mkdir(parents=True)
    (src / "9.compact").write_text(
        "v1\n"
        '{"path":"file:///s0.parquet","timestamp":1,"batchId":8}\n'
        '{"path":"file:///s1.parquet","timestamp":2,"batchId":9}\n'
        '{"path":"file:///s2.parquet","timestamp":3,"batchId":9}\n'
    )
    assert runner._batch_files(9) == ["file:///s1.parquet", "file:///s2.parquet"]


def test_windowed_stats_append_mode_finalizes_under_watermark(spark, tmp_path):
    """Event-time tumbling windows with a watermark over the WAL: append
    mode emits only finalized windows (sink ⊆ batch computation, the
    unfinalized tail absent); a later drain with more data finalizes
    more."""
    from file_standardization_etl_spark.streaming import windows as W

    log_dir = tmp_path / "wal"
    cfg = EventGenConfig(n_events=3000, n_docs=200, seed=71, disorder_window=100)
    events = generate_events(cfg)
    write_segment(spark, log_dir, [e for e in events if e["lsn"] <= 1500], "seg0")

    ckpt = str(tmp_path / "ckpt_win")
    out = str(tmp_path / "win_out")
    W.run_windowed_stats(spark, str(log_dir), ckpt, out)
    got1 = {tuple(r) for r in spark.read.parquet(out).collect()}

    batch_all = {
        tuple(r)
        for r in W.windowed_source_stats(
            spark.read.schema(EVENT_SCHEMA).parquet(str(log_dir))
        ).collect()
    }
    assert got1, "first drain emitted no finalized windows"
    assert got1 <= batch_all  # append mode: finalized windows only, values exact
    assert got1 != batch_all  # the tail past the watermark is not yet final

    # more WAL arrives; the same checkpointed query finalizes more windows
    write_segment(spark, log_dir, [e for e in events if e["lsn"] > 1500], "seg1")
    W.run_windowed_stats(spark, str(log_dir), ckpt, out)
    got2 = {tuple(r) for r in spark.read.parquet(out).collect()}
    batch_full = {
        tuple(r)
        for r in W.windowed_source_stats(
            spark.read.schema(EVENT_SCHEMA).parquet(str(log_dir))
        ).collect()
    }
    assert got2 <= batch_full
    assert len(got2) > len(got1)


def test_stateful_running_totals_match_batch(spark, tmp_path):
    """applyInPandasWithState running totals survive micro-batch
    boundaries and a restart; the final state equals the batch aggregate
    exactly."""
    from pyspark.sql import functions as F

    from file_standardization_etl_spark.streaming import windows as W

    log_dir = tmp_path / "wal"
    cfg = EventGenConfig(n_events=2000, n_docs=150, seed=73, disorder_window=100)
    events = generate_events(cfg)
    write_segment(spark, log_dir, [e for e in events if e["lsn"] <= 1000], "seg0")
    write_segment(spark, log_dir, [e for e in events if e["lsn"] > 1000], "seg1")

    ckpt = str(tmp_path / "ckpt_state")
    # one file per trigger -> state must carry across micro-batches
    W.run_stateful_totals(spark, str(log_dir), ckpt, "totals_a", max_files=1)
    rows = spark.table("totals_a").collect()
    final = {}
    for r in rows:  # update mode: totals are monotone, keep the max
        cur = final.get(r["source"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["source"]] = (r["n_events"], r["n_tokens"], r["max_lsn"])

    batch = {
        r["source"]: (r["n"], r["tok"], r["mx"])
        for r in spark.read.schema(EVENT_SCHEMA).parquet(str(log_dir))
        .filter(F.col("op") != "schema_change")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("n_tok"), F.lit(0)).cast("long")).alias("tok"),
            F.max("lsn").alias("mx"),
        )
        .collect()
    }
    assert final == batch


def test_changefeed_follower_replicates_downstream(spark, tmp_path):
    """Downstream chaining: a ChangeFeedFollower consuming the table's
    snapshot log maintains an exact replica — including across a consumer
    crash (window redelivered bit-identically, replica converges), a
    coalesced multi-commit window, and idle polls costing zero windows."""
    from file_standardization_etl_spark.streaming.changefeed import (
        ChangeFeedFollower,
    )

    events = generate_events(EventGenConfig(n_events=3000, n_docs=150, seed=41))
    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    follower = ChangeFeedFollower(engine.table, str(tmp_path / "cursor.json"))
    assert follower.step(lambda *_: None) == 0  # idle poll: nothing new

    replica: dict = {}

    def consume(df, v_from, v_to):
        for r in df.collect():
            if r["change_op"] == "delete":
                replica.pop(r["doc_id"], None)
            else:
                replica[r["doc_id"]] = (
                    list(r["tokens"] or []), r["n_tok"], r["source"], r["last_lsn"]
                )

    engine.apply_batch(events_df(spark, events[:1000]), batch_id=0)
    assert follower.step(consume) == 1

    # two commits land before the next poll; coalesced into one window
    engine.apply_batch(events_df(spark, events[1000:2000]), batch_id=1)
    engine.apply_batch(events_df(spark, events[2000:]), batch_id=2)

    # consumer crashes mid-window: cursor must NOT advance...
    boom = {"n": 0}

    def flaky(df, v_from, v_to):
        boom["n"] += 1
        raise RuntimeError("downstream died")

    try:
        follower.step(flaky)
    except RuntimeError:
        pass
    assert boom["n"] == 1
    # ...and the retry delivers the identical window to convergence
    assert follower.step(consume) == 1

    want = {
        r["doc_id"]: (list(r["tokens"] or []), r["n_tok"], r["source"], r["last_lsn"])
        for r in engine.state().collect()
    }
    assert replica == want
    assert follower.step(consume) == 0  # caught up


def test_changefeed_follower_reports_delete_without_a_name(spark, tmp_path):
    """A follower built from the table and a cursor alone reads the
    table's recorded tombstone column: a commit that deletes a doc is a
    ``delete`` in its window, as ``engine.changes`` reports it, not an
    ``update``."""
    from file_standardization_etl_spark.streaming.changefeed import (
        ChangeFeedFollower,
    )

    base = {"schema_change": None, "ts": None}
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    engine.apply_batch(events_df(spark, [
        {"lsn": 1, "op": "insert", "doc_id": "d1", "tokens": [1, 2], "n_tok": 2,
         "source": "web", **base},
    ]), batch_id=0)
    follower = ChangeFeedFollower(engine.table, str(tmp_path / "cursor.json"))
    v = follower.position()
    engine.apply_batch(events_df(spark, [
        {"lsn": 2, "op": "delete", "doc_id": "d1", "tokens": None, "n_tok": None,
         "source": None, **base},
    ]), batch_id=1)

    seen = []
    assert follower.step(
        lambda df, *_: seen.extend((r["change_op"], r["doc_id"]) for r in df.collect())
    ) == 1
    assert seen == [("delete", "d1")]
    assert [(r["change_op"], r["doc_id"]) for r in engine.changes(v).collect()] == seen


def test_changefeed_per_commit_backfill_matches_state(spark, tmp_path):
    """coalesce=False replays commit by commit from genesis (seek(0)),
    including schema-only commits (zero-row windows), and converges to
    the same replica as the coalesced path."""
    from file_standardization_etl_spark.streaming.changefeed import (
        ChangeFeedFollower,
    )

    events = generate_events(
        EventGenConfig(
            n_events=2000, n_docs=100, seed=43,
            schema_change_lsns=(900,),
            schema_changes=(
                {"action": "add_column", "name": "extra_cf", "type": "double"},
            ),
        )
    )
    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    engine.apply_batch(events_df(spark, events[:1200]), batch_id=0)
    engine.apply_batch(events_df(spark, events[1200:]), batch_id=1)

    f = ChangeFeedFollower(engine.table, str(tmp_path / "c2.json"))
    f.seek(0)
    replica: dict = {}

    def consume(df, v_from, v_to):
        for r in df.collect():
            if r["change_op"] == "delete":
                replica.pop(r["doc_id"], None)
            else:
                replica[r["doc_id"]] = (list(r["tokens"] or []), r["last_lsn"])

    n = f.step(consume, coalesce=False)
    assert n >= 2  # one window per commit, not one overall
    want = {
        r["doc_id"]: (list(r["tokens"] or []), r["last_lsn"])
        for r in engine.state().collect()
    }
    assert replica == want


def test_changefeed_follower_ignores_orphan_snapshot(spark, tmp_path):
    """history() lists v{N}.json files, which can include a crashed
    writer's orphan (snapshot written, crash before the VERSION pointer
    swap). A per-commit follower must clamp to the committed head — not
    deliver the uncommitted diff or advance its cursor past it."""
    import json
    import os

    from file_standardization_etl_spark.streaming.changefeed import ChangeFeedFollower

    cfg = EventGenConfig(n_events=1500, n_docs=80, seed=131)
    events = generate_events(cfg)
    engine = CdcEngine(spark, str(tmp_path / "cdc"), n_buckets=4)
    engine.init()
    engine.apply_batch(events_df(spark, events[:700]), batch_id=0)
    follower = ChangeFeedFollower(engine.table, str(tmp_path / "cursor.json"))
    follower.position()  # pin the cursor at the post-batch-0 version
    engine.apply_batch(events_df(spark, events[700:]), batch_id=1)

    head = engine.table.current_version()
    # fabricate the orphan: next version's snapshot file, no pointer swap
    snap = dict(engine.table.snapshot())
    snap["version"] = head + 1
    with open(os.path.join(engine.table.path, "_meta", f"v{head + 1}.json"), "w") as f:
        json.dump(snap, f)

    seen = []
    n = follower.step(lambda df, v_from, v_to: seen.append((v_from, v_to, df.count())),
                      coalesce=False)
    assert n == len(seen) > 0
    assert all(v_to <= head for _, v_to, _ in seen)
    assert follower.position() == head  # cursor never passes the commit point


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (update events matched to
    their doc's insert within the horizon): the streamed pair set equals
    the batch computation of the same definition, matches across drain
    boundaries form exactly once, and a redundant re-drain appends
    nothing."""
    from file_standardization_etl_spark.streaming import windows as W

    log_dir = tmp_path / "wal_ssj"
    cfg = EventGenConfig(n_events=2500, n_docs=150, seed=73, disorder_window=40)
    events = generate_events(cfg)
    write_segment(spark, log_dir, [e for e in events if e["lsn"] <= 1200], "seg0")

    ckpt = str(tmp_path / "ckpt_ssj")
    out = str(tmp_path / "ssj_out")
    W.run_early_update_join(spark, str(log_dir), ckpt, out)
    got1 = {tuple(r) for r in spark.read.parquet(out).collect()}

    def batch_pairs():
        ev = spark.read.schema(EVENT_SCHEMA).parquet(str(log_dir))
        return {
            tuple(r)
            for r in W.early_update_join(
                ev.filter("op = 'insert'"), ev.filter("op = 'update'")
            ).collect()
        }

    assert got1 == batch_pairs()  # inner join: every formed pair, exactly once
    assert got1, "no pairs formed — fixture too sparse to prove anything"

    # pairs spanning the drain boundary (insert in seg0, update in seg1)
    # must form on the next drain; already-emitted pairs must not repeat
    write_segment(spark, log_dir, [e for e in events if e["lsn"] > 1200], "seg1")
    W.run_early_update_join(spark, str(log_dir), ckpt, out)
    got2_rows = spark.read.parquet(out).collect()
    got2 = {tuple(r) for r in got2_rows}
    assert len(got2_rows) == len(got2)  # exactly-once: no duplicate emissions
    assert got2 == batch_pairs()
    assert len(got2) > len(got1)

    # idempotent: draining again with no new WAL appends nothing
    W.run_early_update_join(spark, str(log_dir), ckpt, out)
    assert len(spark.read.parquet(out).collect()) == len(got2_rows)


def test_run_cdc_summary_reads_manifests_not_tables(spark, tmp_path, monkeypatch, capsys):
    """jobs/run_cdc.py's drain summary sums this run's batch manifests:
    it scans neither the table nor the quarantine, and a second run
    reports only the batches it applied."""
    import json

    import jobs.run_cdc as run_cdc
    from file_standardization_etl_spark.cdc.oracle import validation_reason

    def expected(events):
        data = [e for e in events if e["op"] != "schema_change"]
        valid = [e for e in data if validation_reason(e) is None]
        win: dict = {}
        for e in sorted(valid, key=lambda e: e["lsn"]):
            win[e["doc_id"]] = e["op"] == "delete"
        deletes = sum(win.values())
        return {
            "rows_in": len(data),
            "rows_quarantined": len(data) - len(valid),
            "rows_upserts": len(win) - deletes,
            "rows_deletes": deletes,
        }

    def summary():
        run_cdc.main()
        lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
        return json.loads(lines[-1])

    def no_scan(self, *a, **kw):
        raise AssertionError("the summary must not scan the engine's tables")

    events = generate_events(EventGenConfig(n_events=1600, n_docs=150, seed=59))
    log_dir = tmp_path / "wal"
    lake = tmp_path / "lake"
    monkeypatch.setattr(
        "sys.argv",
        ["run_cdc.py", "--log-dir", str(log_dir), "--table-dir", str(lake), "--n-buckets", "8"],
    )
    monkeypatch.setattr(CdcEngine, "state", no_scan)
    monkeypatch.setattr(CdcEngine, "quarantine", no_scan)

    # LSN-coherent segments: the generator's disorder stays within each
    seg0 = [e for e in events if e["lsn"] <= 800]
    seg1 = [e for e in events if e["lsn"] > 800]
    write_segment(spark, log_dir, seg0, "seg0")
    first = summary()
    assert {k: first[k] for k in expected(seg0)} == expected(seg0)

    write_segment(spark, log_dir, seg1, "seg1")
    second = summary()
    assert len(second["batches"]) == 1
    assert {k: second[k] for k in expected(seg1)} == expected(seg1)
    assert second["applied_lsn"] == max(e["lsn"] for e in events)
