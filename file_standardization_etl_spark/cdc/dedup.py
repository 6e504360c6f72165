"""Last-writer-wins dedup per key — the heart of the CDC engine.

Re-expresses the reference's latest-event-per-file EXISTS/GROUP BY/max(id)
query (``/root/reference/config/queries.py:21-44``, SURVEY.md J1/W1/A3)
over (doc_id, lsn), with explicit skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# salts per key on the two-phase path (``lww_winners(salted=True)``)
SALT_BUCKETS = 32


def lww_winners(events: DataFrame, salted: bool = False) -> DataFrame:
    """One row per ``doc_id``: the winning (greatest) ``lsn``, whether that
    winner is a delete (``win_del``) and the key's row count (``cnt``).

    Only narrow columns enter the aggregate — token arrays never sit in an
    agg buffer; the caller fetches the winning payload rows by (doc_id,
    lsn). The winner's op rides INSIDE the lsn as ``lsn*2 + is_delete``:
    a string/struct buffer (``max_by``) would force SortAggregate
    (per-partition sorts, spill-prone at high thread counts), while an
    all-primitive max stays a HashAggregate with full map-side combine —
    which is also what makes hot keys a non-issue (each key collapses to
    one row per task before the shuffle). LSNs are unique (FIXTURES.md
    §2), so the winner is deterministic.

    ``salted`` first reduces within (key, salt) and then across salts, for
    adversarial batches where even one task's group cardinality overflows
    the agg hash map. The salt derives from the lsn (no ``rand()``), so a
    retried task routes identically — required for exactly-once.
    """
    combined = F.col("lsn") * 2 + F.when(
        F.col("op") == "delete", F.lit(1)
    ).otherwise(F.lit(0))
    if salted:
        partial = (
            events.select(
                "doc_id",
                combined.alias("__c"),
                F.pmod(F.xxhash64(F.col("lsn")), F.lit(SALT_BUCKETS)).alias("__salt"),
            )
            .groupBy("doc_id", "__salt")
            .agg(F.max("__c").alias("__c"), F.count(F.lit(1)).alias("__cnt"))
        )
        agg = partial.groupBy("doc_id").agg(
            F.max("__c").alias("__c"), F.sum("__cnt").alias("cnt")
        )
    else:
        agg = events.select("doc_id", combined.alias("__c")).groupBy("doc_id").agg(
            F.max("__c").alias("__c"), F.count(F.lit(1)).alias("cnt")
        )
    return agg.select(
        "doc_id",
        F.shiftright("__c", 1).alias("lsn"),
        (F.col("__c") % 2 == 1).alias("win_del"),
        "cnt",
    )
