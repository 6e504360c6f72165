"""Output checks and window evidence, all run outside every timed region.

The expected table is computed from the same generated inputs with plain
Spark, sharing no code with the engine: a reason ``CASE`` in the oracle's
order (``null_tokens``, ``empty_tokens``, ``bad_n_tok``, ``bad_source``),
then last-writer-wins by LSN over the valid events per ``doc_id``, where a
winning delete leaves a tombstone that keeps its LSN.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inputs import SOURCES

_REASON = (
    "CASE WHEN op = 'delete' THEN NULL"
    " WHEN tokens IS NULL THEN 'null_tokens'"
    " WHEN size(tokens) = 0 THEN 'empty_tokens'"
    " WHEN n_tok IS NULL OR n_tok <> size(tokens) THEN 'bad_n_tok'"
    " WHEN source IS NULL OR NOT source IN ({}) THEN 'bad_source'"
    " END".format(", ".join(f"'{s}'" for s in SOURCES))
)


def reference(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(expected rows incl. tombstones, expected quarantine counts by reason)."""
    ev = events.select("lsn", "op", "doc_id", "tokens", "n_tok", "source").withColumn(
        "reason", F.expr(_REASON)
    )
    w = (
        ev.filter(F.col("reason").isNull())
        .groupBy("doc_id")
        .agg(F.max_by(F.struct("lsn", "op", "tokens", "n_tok", "source"), "lsn").alias("w"))
    )
    dead = F.col("w.op") == "delete"
    state = w.select(
        "doc_id",
        F.when(dead, F.lit(None)).otherwise(F.col("w.tokens")).alias("tokens"),
        F.when(dead, F.lit(None)).otherwise(F.col("w.n_tok")).alias("n_tok"),
        F.when(dead, F.lit(None)).otherwise(F.col("w.source")).alias("source"),
        F.col("w.lsn").alias("last_lsn"),
        dead.alias("deleted"),
    )
    quarantine = ev.filter(F.col("reason").isNotNull()).groupBy("reason").count()
    return state, quarantine


def check_state(engine, expected: DataFrame) -> tuple[int, int]:
    """(rows that differ from the reference, live docs in the engine),
    comparing token arrays bit for bit and tombstones by LSN."""
    got = engine.state(include_deleted=True).select(
        "doc_id", "tokens", "n_tok", "source", "last_lsn", "deleted"
    )
    r, g = expected.alias("r"), got.alias("g")
    same = F.lit(True)
    for c in ("tokens", "n_tok", "source", "last_lsn", "deleted"):
        same = same & F.col(f"r.{c}").eqNullSafe(F.col(f"g.{c}"))
    row = (
        r.join(g, F.col("r.doc_id") == F.col("g.doc_id"), "full_outer")
        .agg(
            F.sum(F.when(same, 0).otherwise(1)).alias("bad"),
            F.sum(F.when(F.col("g.deleted") == F.lit(False), 1).otherwise(0)).alias("live"),
        )
        .collect()[0]
    )
    return int(row["bad"] or 0), int(row["live"] or 0)


def check_quarantine(engine, expected: DataFrame) -> dict:
    """Per-reason counts that differ: reason -> (expected, engine)."""
    want = {r["reason"]: r["count"] for r in expected.collect()}
    got = {r["reason"]: r["count"] for r in engine.quarantine().groupBy("reason").count().collect()}
    return {k: (want.get(k, 0), got.get(k, 0)) for k in set(want) | set(got) if want.get(k, 0) != got.get(k, 0)}


def check_vocab(engine) -> int:
    """Tokens whose maintained (n_occ, n_docs) differ from a recount of the
    live state."""
    recount = (
        engine.state()
        .select("doc_id", F.explode("tokens").alias("t"))
        .select("doc_id", F.col("t").cast("long").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.countDistinct("doc_id").alias("n_docs"))
    )
    r, v = recount.alias("r"), engine.vocab().alias("v")
    same = F.col("r.n_occ").eqNullSafe(F.col("v.n_occ")) & F.col("r.n_docs").eqNullSafe(
        F.col("v.n_docs")
    )
    return (
        r.join(v, F.col("r.token") == F.col("v.token"), "full_outer").filter(~same).count()
    )


def bare_scan(spark, paths: list[str], schema) -> float:
    """Scan + aggregate over the run's own WAL files with no engine code:
    evidence of how busy the host was, recorded next to the metrics."""
    t0 = time.perf_counter()
    spark.read.schema(schema).parquet(*paths).agg(
        F.count(F.lit(1)), F.sum(F.size("tokens")), F.max("lsn")
    ).collect()
    return time.perf_counter() - t0


def host_cpu() -> list[int]:
    """The host's cumulative CPU time counters (``/proc/stat``), to report
    the share stolen by other guests over the measured part of a run."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(c0: list[int], c1: list[int]) -> float:
    d = [b - a for a, b in zip(c0, c1)]
    return d[7] / max(sum(d), 1)
