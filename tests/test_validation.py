"""Validation parity: Catalyst expression == Arrow UDF == pure-Python
oracle, on generated events that exercise every quarantine reason."""

from __future__ import annotations

from pyspark.sql import functions as F

from file_standardization_etl_spark.cdc.events import (
    SOURCE_WHITELIST,
    EventGenConfig,
    events_df,
    generate_events,
)
from file_standardization_etl_spark.cdc.oracle import QUARANTINE_REASONS, validation_reason
from file_standardization_etl_spark.functions.validation import (
    validation_reason_expr,
    with_reason,
)


def _events(spark, n=2000, seed=31):
    cfg = EventGenConfig(
        n_events=n, n_docs=100, seed=seed,
        corrupt_frac=0.1, bad_source_frac=0.1, null_tokens_frac=0.05, empty_tokens_frac=0.05,
    )
    evs = [e for e in generate_events(cfg) if e["op"] != "schema_change"]
    return evs, events_df(spark, evs)


def test_expr_matches_oracle(spark):
    evs, df = _events(spark)
    got = {
        r["lsn"]: r["reason"]
        for r in df.withColumn(
            "reason",
            validation_reason_expr(
                F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"), SOURCE_WHITELIST
            ),
        ).collect()
    }
    want = {e["lsn"]: validation_reason(e) for e in evs}
    assert got == want
    assert set(filter(None, want.values())) == set(QUARANTINE_REASONS)  # every reason


def test_pandas_udf_matches_expr(spark):
    """The slim Arrow UDF behind :func:`with_reason` gives every event the
    routing expression's reason (null = valid)."""
    _, df = _events(spark, seed=37)
    both = with_reason(df, SOURCE_WHITELIST).select(
        "lsn",
        validation_reason_expr(
            F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"), SOURCE_WHITELIST
        ).alias("expr_reason"),
        F.col("reason").alias("udf_reason"),
    )
    mismatches = both.filter(
        ~(
            (F.col("expr_reason").isNull() & F.col("udf_reason").isNull())
            | (F.col("expr_reason") == F.col("udf_reason"))
        )
    ).count()
    assert mismatches == 0
    assert both.filter(F.col("udf_reason").isNotNull()).count() > 0


def test_split_is_partition(spark, tmp_path):
    """The reason column splits a batch into valid rows and quarantine with
    nothing lost or doubled, and the engine quarantines exactly the rows
    on the quarantine side, each with a reason."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine

    evs, df = _events(spark, seed=41)
    reasoned = with_reason(df, SOURCE_WHITELIST)
    valid = reasoned.filter(F.col("reason").isNull())
    quar = reasoned.filter(F.col("reason").isNotNull())
    assert valid.count() + quar.count() == len(evs)
    assert quar.count() > 0

    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    m = engine.apply_batch(df, batch_id=0)
    got = engine.quarantine()
    assert got.filter(F.col("reason").isNull()).count() == 0
    assert {r["lsn"] for r in got.collect()} == {r["lsn"] for r in quar.collect()}
    assert m.rows_quarantined == quar.count()
    assert sum(m.quarantine_by_reason.values()) == m.rows_quarantined


def test_engine_validation_modes_agree(spark, tmp_path):
    """The engine validates on two paths, the WAL tail (``apply_batch``)
    and the snapshot load (``bootstrap``). Fed the same one-row-per-doc
    inserts, both give the oracle's quarantine (lsn, reason) and state."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.oracle import replay

    evs, _ = _events(spark, n=1500, seed=53)
    seen: set = set()
    ins = []
    for e in sorted(evs, key=lambda e: e["lsn"]):
        if e["op"] != "delete" and e["doc_id"] not in seen:
            seen.add(e["doc_id"])
            ins.append({**e, "op": "insert"})
    oracle = replay(ins)
    want_state = {
        k: (list(v["tokens"]), v["last_lsn"]) for k, v in oracle.live_docs().items()
    }
    want_quar = {(q["lsn"], q["reason"]) for q in oracle.quarantine}
    assert {r for _, r in want_quar} == set(QUARANTINE_REASONS)  # every reason

    tail = CdcEngine(spark, str(tmp_path / "tail"))
    tail.init()
    tail.apply_batch(events_df(spark, ins), batch_id=0)
    boot = CdcEngine(spark, str(tmp_path / "boot"))
    boot.init()
    snap = spark.createDataFrame(
        [(e["doc_id"], e["tokens"], e["n_tok"], e["source"], e["lsn"]) for e in ins],
        "doc_id string, tokens array<int>, n_tok int, source string, lsn long",
    )
    boot.bootstrap(snap, as_of_lsn=max(e["lsn"] for e in ins))
    for mode, engine in (("tail", tail), ("bootstrap", boot)):
        got_state = {
            r["doc_id"]: (list(r["tokens"]), r["last_lsn"])
            for r in engine.state().collect()
        }
        got_quar = {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()}
        assert got_state == want_state, f"state diverged in mode={mode}"
        assert got_quar == want_quar, f"quarantine diverged in mode={mode}"


def test_engine_quarantine_matches_oracle(spark, tmp_path):
    """The engine's quarantine holds exactly the oracle's (lsn, reason)
    pairs, and valid events alone make up the final state."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.oracle import replay

    evs, df = _events(spark, n=1500, seed=77)
    oracle = replay(evs)
    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    m = engine.apply_batch(df, batch_id=0)
    got_quar = {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()}
    assert got_quar == {(q["lsn"], q["reason"]) for q in oracle.quarantine}
    assert m.rows_quarantined == len(oracle.quarantine)
    got_state = {
        r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()
    }
    assert got_state == {
        k: (list(v["tokens"]), v["last_lsn"]) for k, v in oracle.live_docs().items()
    }
