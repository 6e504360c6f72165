"""Operator-coverage queries + DuckDB oracles.

Each entry re-expresses one or more reference operators (SURVEY.md §2 ids
cited per query) as an idiomatic Catalyst plan over the shared testdata
tables, with an ANSI-SQL oracle DuckDB runs on the same parquet.

Cross-engine determinism rules (so value hashes match bitwise):

- aggregate money in **integer cents** via ``floor(x*100 + 0.5)`` — the
  expression tree is identical IEEE ops in both engines, and integer sums
  are order-independent (double sums are not);
- ratios/averages are a **single** division of two exact integers — one
  IEEE op is deterministic; never average doubles directly;
- no raw timestamps in outputs (formatted strings instead);
- array outputs are joined to strings.

The registry is what ``__spark_entry__.queries()`` / ``oracle_sql()``
export; ``tools/check_oracle.py`` replays the driver's comparison locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cents(col):
    """floor(x*100+0.5) as bigint — exact, portable money arithmetic."""
    return F.floor(col * F.lit(100) + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# CDC core re-expressed over the shared `events` table
# ---------------------------------------------------------------------------


def q_cdc_lww_state(spark, sf_dir):
    """J1/W1/A3: last-writer-wins per key (ref: config/queries.py:21-44).

    max_by aggregation → map-side partial agg, skew-immune (vs the
    window-function formulation which shuffles every row of a key to one
    task)."""
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_id").alias("lsn"),
        F.col("event_type"),
        F.col("value"),
    )
    out = ev.groupBy("user_id").agg(
        F.max_by(F.struct("lsn", "event_type", "value"), F.col("lsn")).alias("__r")
    )
    return out.select(
        "user_id",
        F.col("__r.lsn").alias("last_lsn"),
        F.col("__r.event_type").alias("last_type"),
        F.col("__r.value").alias("last_value"),
    )


SQL_CDC_LWW = """
SELECT user_id, event_id AS last_lsn, event_type AS last_type, value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
"""


def q_cdc_replay_state(spark, sf_dir):
    """Full CDC replay semantics on `events`: event_type='error' acts as a
    delete op; final state = LWW per key, tombstones filtered (ref
    semantics: is_processed watermark + latest-id, queries.py:21-44 +
    operations.py:95-108)."""
    st = q_cdc_lww_state(spark, sf_dir)
    return st.filter(F.col("last_type") != "error").select(
        "user_id", "last_lsn", "last_value"
    )


SQL_CDC_REPLAY = """
SELECT user_id, last_lsn, last_value FROM (
  SELECT user_id, event_id AS last_lsn, event_type AS last_type, value AS last_value
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
) WHERE last_type <> 'error'
"""


def q_cdc_validate_split(spark, sf_dir):
    """P8 + §2.10: vectorized validation with reason precedence →
    quarantine counts (ref: schema_validator.py:55-76,
    data_validator.py:62-84 — null/required, range, categorical)."""
    ev = load(spark, sf_dir, "events")
    reason = (
        F.when(ev.value.isNull() | (ev.value < 0), F.lit("bad_value"))
        .when(ev.value > 400, F.lit("out_of_range"))
        .when(~ev.event_type.isin("click", "view", "purchase", "signup"), F.lit("bad_type"))
        .otherwise(F.lit("valid"))
    )
    return (
        ev.select(reason.alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_CDC_VALIDATE = """
SELECT CASE
         WHEN value IS NULL OR value < 0 THEN 'bad_value'
         WHEN value > 400 THEN 'out_of_range'
         WHEN event_type NOT IN ('click','view','purchase','signup') THEN 'bad_type'
         ELSE 'valid'
       END AS reason,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Aggregations (A1/A2/A5) — TPC-H Q1 shaped, integer-cents arithmetic
# ---------------------------------------------------------------------------


def q_tpch_q1_pricing(spark, sf_dir):
    """A1/A2 hash agg + F15/F17 numeric transforms (ref group-sums at
    repomix-output.xml:8699-8735, 8988-9036)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-12-01"))
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc * (F.lit(1) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(cents(disc)).alias("sum_disc_cents"),
            F.sum(cents(charge)).alias("sum_charge_cents"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS count_order,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*(1+l_tax)*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS avg_qty
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_rollup_dims(spark, sf_dir):
    """A2: multi-dim rollup with joined dims; broadcast both small sides
    (ref 12-dim sales groupby, repomix-output.xml:8988-9036)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


SQL_AGG_ROLLUP = """
SELECT n_name, c_mktsegment, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Joins (J2/J5/J6/J7/J8) and set ops (U3/U4)
# ---------------------------------------------------------------------------


def q_join_broadcast_lookup(spark, sf_dir):
    """J2/J3: small-dim lookup joins → broadcast hash join (ref pd.merge
    lookups, repomix-output.xml:8263-8295)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("p_type") == "ECONOMY")
        .groupBy("p_brand", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )


SQL_JOIN_BROADCAST = """
SELECT p_brand, s_name, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
WHERE p_type = 'ECONOMY'
GROUP BY 1, 2
"""


def q_join_derived_key(spark, sf_dir):
    """J5/J6 + F9: equi-join on a computed key — digits extracted from
    c_name, leading zeros stripped (ref fuzzy entity-match joins,
    config/queries.py:70-113; lstrip-zeros join keys,
    repomix-output.xml:8271-8274)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    ckey = F.regexp_replace(F.col("c_name"), "[^0-9]", "").cast("long")
    cd = c.select(ckey.alias("derived_key"), "c_mktsegment")
    return (
        o.join(F.broadcast(cd), o.o_custkey == cd.derived_key)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_JOIN_DERIVED = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN (
  SELECT CAST(regexp_replace(c_name, '[^0-9]', '', 'g') AS BIGINT) AS derived_key,
         c_mktsegment
  FROM customer
) ON o_custkey = derived_key
GROUP BY 1
"""


def q_join_fallback_cascade(spark, sf_dir):
    """J7: the reference's 4-strategy sequential entity-match cascade
    (src/database/operations.py:129-162) collapsed into ONE plan:
    precedence-tagged union + row_number, replacing N count()-gated
    round trips."""
    o = load(spark, sf_dir, "orders")
    strategies = [
        (1, "urgent_final", (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")),
        (2, "big_ticket", F.col("o_totalprice") >= 150000),
        (3, "vintage_1995", F.year("o_orderdate") == 1995),
        (4, "default", F.lit(True)),
    ]
    tagged = None
    for prec, name, cond in strategies:
        part = o.filter(cond).select(
            "o_orderkey", F.lit(prec).alias("prec"), F.lit(name).alias("strategy")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    w = Window.partitionBy("o_orderkey").orderBy("prec")
    first = tagged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return first.groupBy("strategy").agg(F.count(F.lit(1)).alias("n_orders"))


SQL_JOIN_CASCADE = """
SELECT CASE
         WHEN o_orderpriority = '1-URGENT' AND o_orderstatus = 'F' THEN 'urgent_final'
         WHEN o_totalprice >= 150000 THEN 'big_ticket'
         WHEN EXTRACT(year FROM o_orderdate) = 1995 THEN 'vintage_1995'
         ELSE 'default'
       END AS strategy,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
"""


def q_join_anti_unshipped(spark, sf_dir):
    """J8/U3: anti-join set difference (ref stock↔sales consistency check,
    src/validation/data_validator.py:188-228)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("2001-06-01"))
    p = load(spark, sf_dir, "part")
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_brand")


SQL_JOIN_ANTI = """
SELECT p_partkey, p_brand FROM part
WHERE p_partkey NOT IN (
  SELECT l_partkey FROM lineitem WHERE l_shipdate > TIMESTAMP '2001-06-01'
)
"""


def q_setop_symdiff(spark, sf_dir):
    """U4: symmetric difference of key sets (ref org symmetric diff,
    src/validation/data_validator.py:219-226) — two left_antis unioned."""
    ev = load(spark, sf_dir, "events")
    buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 120))
        .select("user_id").distinct()
    )
    erring = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 120))
        .select("user_id").distinct()
    )
    only_buy = buyers.join(erring, "user_id", "left_anti").withColumn(
        "side", F.lit("purchase_only")
    )
    only_err = erring.join(buyers, "user_id", "left_anti").withColumn(
        "side", F.lit("error_only")
    )
    return only_buy.unionByName(only_err)


SQL_SETOP_SYMDIFF = """
WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 120),
     erring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 120)
SELECT user_id, 'purchase_only' AS side FROM buyers WHERE user_id NOT IN (SELECT user_id FROM erring)
UNION ALL
SELECT user_id, 'error_only' AS side FROM erring WHERE user_id NOT IN (SELECT user_id FROM buyers)
"""


# ---------------------------------------------------------------------------
# Window-shaped operators (W2/W3)
# ---------------------------------------------------------------------------


def q_window_ffill(spark, sf_dir):
    """W2: forward-fill / LOCF — carry the last purchase value down per
    user (ref SURGIPHARM group-header carry-down,
    repomix-output.xml:7834-7891)."""
    ev = load(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


SQL_WINDOW_FFILL = """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
FROM events
"""


def q_window_dedup_rank(spark, sf_dir):
    """W3: duplicate-value positional suffixing (ref cumcount dedup-rank,
    src/utils/data_processing.py:95-115: 'COL','COL' → 'COL1','COL2')."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.concat(F.col("event_type"), F.lit("_"), F.row_number().over(w).cast("string")).alias(
            "suffixed"
        ),
    )


SQL_WINDOW_DEDUP_RANK = """
SELECT event_id, user_id,
       event_type || '_' || CAST(row_number() OVER (
           PARTITION BY user_id, event_type ORDER BY event_id) AS VARCHAR) AS suffixed
FROM events WHERE user_id < 20
"""


# ---------------------------------------------------------------------------
# registry (tranche 1)
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    "cdc_lww_state": (q_cdc_lww_state, SQL_CDC_LWW),
    "cdc_replay_state": (q_cdc_replay_state, SQL_CDC_REPLAY),
    "cdc_validate_split": (q_cdc_validate_split, SQL_CDC_VALIDATE),
    "tpch_q1_pricing": (q_tpch_q1_pricing, SQL_TPCH_Q1),
    "agg_rollup_dims": (q_agg_rollup_dims, SQL_AGG_ROLLUP),
    "join_broadcast_lookup": (q_join_broadcast_lookup, SQL_JOIN_BROADCAST),
    "join_derived_key": (q_join_derived_key, SQL_JOIN_DERIVED),
    "join_fallback_cascade": (q_join_fallback_cascade, SQL_JOIN_CASCADE),
    "join_anti_unshipped": (q_join_anti_unshipped, SQL_JOIN_ANTI),
    "setop_symdiff": (q_setop_symdiff, SQL_SETOP_SYMDIFF),
    "window_ffill": (q_window_ffill, SQL_WINDOW_FFILL),
    "window_dedup_rank": (q_window_dedup_rank, SQL_WINDOW_DEDUP_RANK),
}

from .queries_ext import EXT_QUERIES  # noqa: E402  (registry merge)
from .queries_ext2 import EXT2_QUERIES  # noqa: E402
from .queries_entity import ENTITY_QUERIES  # noqa: E402
from .queries_graph import GRAPH_QUERIES  # noqa: E402
from .queries_tokens import TOKEN_QUERIES  # noqa: E402
from .queries_pq import PQ_QUERIES  # noqa: E402
from .queries_time import TIME_QUERIES  # noqa: E402
from .queries_corpus import CORPUS_QUERIES  # noqa: E402
from .queries_profile import PROFILE_QUERIES  # noqa: E402

QUERIES.update(EXT_QUERIES)
QUERIES.update(EXT2_QUERIES)
QUERIES.update(ENTITY_QUERIES)
QUERIES.update(GRAPH_QUERIES)
QUERIES.update(TOKEN_QUERIES)
QUERIES.update(PQ_QUERIES)
QUERIES.update(TIME_QUERIES)
QUERIES.update(CORPUS_QUERIES)
QUERIES.update(PROFILE_QUERIES)

# Driver-coverage rotation: the per-round driver CORRECTNESS artifact caps
# at 50 rows, so entries are ordered by ledger staleness — round 5 fronts
# (a) entries new this round, (b) the two r4 hash-red entries whose oracle
# SQL was fixed (HUGEINT casts), and (c) the 23 core entries whose only
# green row is r03. Everything with a green r04 row rotates back. The
# rotated-back core keeps its gates either way — every entry also runs
# under `python tools/check_oracle.py` (rows/cols/exact values/type
# families, stricter than the driver hash) and the pytest suite.
_DRIVER_PRIORITY = [
    # round-5 additions (never driver-covered by construction)
    "tokens_strip_dup_spans_rewrite",
    "tokens_token_span_rewrite",
    # r4 hash-red, oracle SQL fixed this round — must show green in r05
    "window_sessionize",
    "agg_time_rollup",
    # core entries whose only driver row is r03
    "text_tokens",
    "text_fingerprint",
    "text_repetition",
    "multimodal_decode",
    "multimodal_frame_sample",
    "source_grid_standardize",
    "grid_attribute_map",
    "ann_ivf_topk",
    "ann_kmeans_centroids",
    "ann_ivf_kmeans_topk",
    "filter_junk_rows",
    "join_scalar_subquery",
    "agg_global_scalars",
    "agg_null_profile",
    "order_topk",
    "dedup_embedding_cosine",
    "source_csv_roundtrip",
    "join_entity_cascade",
    "dedup_cluster_cc",
    "dedup_cluster_keepers",
    "tokens_shard_order",
    "tokens_mixture_weights",
    "tokens_pack_payload",
]
QUERIES = {
    **{k: QUERIES[k] for k in _DRIVER_PRIORITY if k in QUERIES},
    **{k: v for k, v in QUERIES.items() if k not in set(_DRIVER_PRIORITY)},
}
