"""Physical-plan audit: dump `explain(formatted)` for the headline
queries and assert the plan properties that matter at 100 TB —
filter/column pushdown reaching the parquet scan, broadcast joins on
small dims, whole-stage codegen on the hot path, no Python UDF in any
query plan (UDFs exist only in the CDC quarantine finalize, off the
analytic path).

Writes a compact per-query table (asserted properties, scan column
counts) to PLANS.md and the full formatted plans to PLANS.full.md (not
committed: expression ids churn on every run); exits non-zero if an
audited property regresses.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from file_standardization_etl_spark.plans.queries import QUERIES  # noqa: E402
from file_standardization_etl_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query -> properties the plan must exhibit. Note: `WholeStageCodegen`
# annotations are not rendered inside an unexecuted AdaptiveSparkPlan, so
# codegen coverage is evidenced by the operator names (HashAggregate /
# Filter / Project are codegen stages) plus the FORBIDDEN list below.
AUDIT = {
    "tpch_q1_pricing": [
        "PushedFilters: [IsNotNull(l_shipdate)",  # predicate reaches the scan
        "HashAggregate",  # two-phase (partial + final) hash agg
        "Exchange",
    ],
    "agg_rollup_dims": ["BroadcastHashJoin", "HashAggregate"],
    "join_broadcast_lookup": [
        "BroadcastHashJoin",
        "PushedFilters: [IsNotNull(p_type), EqualTo(p_type,ECONOMY)",
    ],
    "join_anti_unshipped": ["BroadcastHashJoin LeftAnti", "PushedFilters"],
    "join_scalar_subquery": ["BroadcastHashJoin"],
    # max_by(struct) aggregates a struct buffer -> sort-based partial+final
    # agg; still map-side combined (the engine's LWW, cdc/dedup.py
    # lww_winners, uses the all-primitive encoded max -> HashAggregate)
    "cdc_lww_state": ["SortAggregate", "Exchange"],
    "window_ffill": ["Window", "Sort"],
    "order_topk": ["TakeOrderedAndProject"],
    "dedup_minhash_lsh": ["HashAggregate"],
    "ann_brute_topk": ["BroadcastNestedLoopJoin"],
    "dedup_embedding_cosine": ["HashAggregate"],
    # metadata sides of the routing cascade must broadcast; the
    # precedence pick is one window over the union
    "join_entity_cascade": ["BroadcastHashJoin", "Window"],
    "scalar_dates": ["Project"],  # 54-format coalesce stays one codegen project
    "dedup_simhash_pairs": ["HashAggregate"],
    "ann_kmeans_centroids": ["HashAggregate"],
    "ann_ivf_kmeans_topk": ["HashAggregate"],
    # token-pipeline ops: chunking must stay an unshuffled generate chain;
    # the eval gram side of the decontamination join must broadcast; the
    # vocab top-k must be a TakeOrderedAndProject, not a global sort
    "tokens_chunk_windows": ["Generate"],
    "tokens_vocab_topk": ["TakeOrderedAndProject", "HashAggregate"],
    "tokens_contamination": ["BroadcastHashJoin", "HashAggregate"],
    "tokens_pack_examples": ["Window", "HashAggregate"],
    # dup-span gate: hot hashes broadcast back onto the span stream, the
    # exact re-aggregate hash-aggregates, the top-k never global-sorts
    "tokens_dup_spans": [
        "BroadcastHashJoin",
        "HashAggregate",
        "TakeOrderedAndProject",
    ],
    "tokens_strip_dup_spans": [
        "BroadcastHashJoin",
        "HashAggregate",
        "TakeOrderedAndProject",
        "SortAggregate",  # two-phase keeper election: min(struct) partials
    ],
    "tokens_strip_dup_spans_rewrite": [
        "BroadcastHashJoin",
        "HashAggregate",
        "TakeOrderedAndProject",
    ],
    "tokens_token_span_rewrite": [
        "BroadcastHashJoin",
        "HashAggregate",
        "TakeOrderedAndProject",
    ],
    # repetition profile: both levels (doc,gram counts; per-doc rollup)
    # must hash-aggregate with map-side partials
    "text_repetition": ["HashAggregate", "Exchange"],
    "tokens_mixture_weights": ["HashAggregate"],
    # PQ: codebook/centroid folds and the per-(sub,code,pos) sums must
    # hash-aggregate; the encode/assignment joins broadcast the tiny
    # codebook side
    "ann_pq_adc_topk": ["BroadcastHashJoin", "HashAggregate"],
    # SemDeDup: the pair search must be a cluster_id equi-join (the
    # BNLJ present is the intentional 1-row centroid-array broadcast)
    "dedup_semantic": ["HashAggregate"],
    # funnel: eval-gram side broadcast, single-row rollup hash-aggregated
    "corpus_curation_funnel": ["BroadcastHashJoin", "HashAggregate"],
    # time-series tranche: as-of is ONE window over the tagged union (no
    # join node at all); the range join must be a bucketed equi-join; the
    # rollup expands grouping sets before the exchange (Expand) and
    # hash-aggregates with map-side partials
    "join_asof": ["Window", "Union"],
    "join_range_bucketed": ["Generate", "Join"],
    "window_sessionize": ["Window", "HashAggregate"],
    "agg_time_rollup": ["Expand", "HashAggregate"],
    # corpus tranche: sampling is a map-only projection (Exchange
    # forbidden below); the inverted index caps postings via a window
    # on the same key its aggregate groups by; percentiles are one
    # window pass
    "tokens_stratified_sample": ["Filter"],
    "text_inverted_index": ["Window", "HashAggregate"],
    "agg_percentiles": ["Window", "Generate"],
    # profiling tranche: top-N is one window rank; the histogram is a
    # pure map-side-combined hash agg; bigram top-k must TakeOrdered,
    # never globally sort
    "window_topn_per_key": ["Window"],
    "agg_histogram": ["HashAggregate", "Exchange"],
    "text_bigrams": ["TakeOrderedAndProject", "HashAggregate"],
    # percentile sketch: the histogram is a map-side-combined hash agg;
    # the window runs over DISTINCT values only (after the aggregate)
    "agg_percentiles_sketch": ["HashAggregate", "Window"],
    # stream-interval batch twin: must plan as an equi-join on the key
    # with the interval as a post-join filter, never a BNLJ
    "join_stream_interval": ["Join"],
    # --- round-5 extension: every registry entry is audited (main()
    # fails on a registry entry missing here). Map-only column batteries
    # must stay single-codegen projections (Exchange forbidden below);
    # joins assert their broadcast/equi shape; aggs assert hash-based
    # partials. ---
    "text_tokens": ["Project"],
    "text_fingerprint": ["Project"],
    "text_quality": ["Project"],
    "text_langid": ["Project"],
    "scalar_strings": ["Project"],
    "scalar_numeric": ["Project", "Filter"],
    "dedup_simhash": ["Project"],
    "explode_multivalue": ["Generate"],
    "fixed_width_parse": ["Project", "Filter"],
    "filter_junk_rows": ["Filter"],
    "source_grid_standardize": ["Filter", "Project"],
    # Arrow-batched multimodal plumbing: MapInPandas is the sanctioned
    # executor-Python node here (schema'd batch kernels), never
    # row-at-a-time BatchEvalPython (globally forbidden)
    "multimodal_decode": ["MapInPandas", "HashAggregate"],
    "multimodal_frame_sample": ["MapInPandas", "Generate", "HashAggregate"],
    "grid_attribute_map": ["Window", "Project"],
    # IVF probe: rank-limit pushed into the window (WindowGroupLimit),
    # centroid side is the intentional tiny-array broadcast
    "ann_ivf_topk": ["WindowGroupLimit", "Window"],
    "agg_global_scalars": ["HashAggregate"],
    "agg_null_profile": ["HashAggregate", "Exchange"],
    "source_csv_roundtrip": ["Scan csv"],
    # registry entry reads the MATERIALIZED labels (the iterative
    # superstep plan is audited separately in the cc_superstep section)
    "dedup_cluster_cc": ["Project"],
    "dedup_cluster_keepers": ["BroadcastHashJoin", "HashAggregate"],
    "tokens_shard_order": ["Window"],
    "tokens_pack_payload": ["ObjectHashAggregate", "Window"],
    "tokens_hash_split": ["Project"],
    "tokens_clean_train": ["BroadcastHashJoin", "HashAggregate"],
    # LWW replay state: max_by(struct) partial+final (same trade as
    # cdc_lww_state); the engine's all-primitive LWW is cdc/dedup.py
    "cdc_replay_state": ["SortAggregate", "Exchange"],
    "cdc_validate_split": ["HashAggregate"],
    "join_derived_key": ["BroadcastHashJoin"],
    "join_fallback_cascade": ["Union", "Window"],
    "setop_symdiff": ["Union", "HashAggregate"],
    "window_dedup_rank": ["Window"],
    "dedup_exact": ["HashAggregate", "Exchange"],
    "dedup_ngram_jaccard": ["BroadcastHashJoin", "HashAggregate"],
    "dedup_simhash_wide_pairs": ["BroadcastHashJoin", "HashAggregate"],
    "ann_lsh_pairs": ["BroadcastHashJoin"],
}

# Queries whose plan must show a NON-EMPTY PushedFilters on at least one
# scan (generic pushdown evidence; the AUDIT needles above pin specific
# predicates where they are stable).
PUSHDOWN_REQUIRED = {
    "source_grid_standardize",
    "grid_attribute_map",
    "filter_junk_rows",
    "agg_global_scalars",
    "dedup_cluster_keepers",
    "join_derived_key",
    "join_fallback_cascade",
    "setop_symdiff",
    "window_dedup_rank",
    "scalar_numeric",
    "fixed_width_parse",
    "dedup_ngram_jaccard",
    "dedup_simhash_wide_pairs",
    "ann_lsh_pairs",
    "tokens_clean_train",
    "ann_ivf_topk",
}

FORBIDDEN = ["BatchEvalPython", "ArrowEvalPython"]  # no Python in analytic plans

# plan nodes that would mean a scale-killer regression for that query
PER_QUERY_FORBIDDEN = {
    # LSH-gated near-dup must stay equi-join only: an unconditioned
    # self-join plans as CartesianProduct/BNLJ (the O(n²) shape VERDICT r1
    # flagged; ann_brute_topk is the one *intentional* BNLJ — tiny
    # broadcast query side)
    "dedup_embedding_cosine": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "dedup_minhash_lsh": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "dedup_simhash_pairs": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    # Lloyd assignment is a row-local expression argmin; a SortAggregate
    # reappearing would mean the per-iteration sort regression came back
    # (VERDICT r2 #3). The k-row centroid fold + posexplode sums must
    # stay hash-aggregated.
    "ann_kmeans_centroids": ["SortAggregate"],
    "ann_ivf_kmeans_topk": ["SortAggregate"],
    # chunking is map-stage work: any Exchange means the explode chain
    # started shuffling; hash-split is a pure projection
    "tokens_chunk_windows": ["Exchange"],
    "tokens_hash_split": ["Exchange"],
    # the train gram side must never broadcast or self-join — only the
    # 2% eval side is the build side
    "tokens_contamination": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    # the span stream must never self-join or sort-aggregate: the only
    # joins are the hot-hash semi-join, the only aggs hash-based
    "tokens_dup_spans": [
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortAggregate",
    ],
    # the strip variants share the gate but NOT the SortAggregate ban —
    # their two-phase keeper election (min over a struct buffer) plans
    # as a map-side-combined SortAggregate by design
    "tokens_strip_dup_spans": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "tokens_strip_dup_spans_rewrite": [
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ],
    "tokens_token_span_rewrite": [
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ],
    # the gram-count aggregate must never sort (a SortAggregate here
    # would mean per-doc gram sorting crept into the hot two-level agg)
    "text_repetition": ["SortAggregate", "CartesianProduct"],
    # PQ/SemDeDup inherit the k-means no-sort rule; nothing may plan a
    # cartesian (the keyless broadcasts are BNLJ by construction, which
    # stays allowed only for the tiny LUT/centroid sides)
    "ann_pq_adc_topk": ["SortAggregate", "CartesianProduct"],
    "dedup_semantic": ["SortAggregate", "CartesianProduct"],
    "corpus_curation_funnel": ["CartesianProduct"],
    # a raw BETWEEN range join would plan as BNLJ/cartesian — the bucketed
    # rewrite must keep it an equi-join; the as-of must stay join-free
    "join_asof": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    "join_range_bucketed": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "window_sessionize": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "agg_time_rollup": ["SortAggregate", "CartesianProduct"],
    # sampling must stay a stateless map-only pass — any Exchange means
    # somebody added a shuffle to a pure hash decision
    "tokens_stratified_sample": ["Exchange"],
    "text_inverted_index": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "agg_percentiles": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "window_topn_per_key": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "agg_histogram": ["SortAggregate", "CartesianProduct"],
    "text_bigrams": ["Sort ", "CartesianProduct"],
    # the sketch exists to avoid sorting rows: only the post-aggregate
    # distinct-value frame may sort, and nothing may plan a cartesian
    "agg_percentiles_sketch": ["SortAggregate", "CartesianProduct"],
    "join_stream_interval": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    # map-only column batteries: any Exchange means a shuffle crept into
    # a stateless projection (the 100 TB shape is "scan, project, write")
    "text_tokens": ["Exchange"],
    "text_fingerprint": ["Exchange"],
    "text_quality": ["Exchange"],
    "text_langid": ["Exchange"],
    "scalar_strings": ["Exchange"],
    "scalar_numeric": ["Exchange"],
    "dedup_simhash": ["Exchange"],
    "explode_multivalue": ["Exchange"],
    "fixed_width_parse": ["Exchange"],
    "filter_junk_rows": ["Exchange"],
    "source_grid_standardize": ["Exchange"],
    # join-shape guards: candidate generation stays equi-join only
    "dedup_exact": ["SortAggregate", "CartesianProduct"],
    "dedup_ngram_jaccard": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "dedup_simhash_wide_pairs": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "ann_lsh_pairs": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "dedup_cluster_keepers": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "join_derived_key": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "join_fallback_cascade": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "setop_symdiff": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    "window_dedup_rank": ["CartesianProduct"],
    "tokens_clean_train": ["CartesianProduct"],
    "agg_null_profile": ["SortAggregate", "CartesianProduct"],
    "agg_global_scalars": ["CartesianProduct"],
    "cdc_validate_split": ["CartesianProduct"],
    "cdc_replay_state": ["CartesianProduct"],
    "tokens_shard_order": ["CartesianProduct"],
    "tokens_pack_payload": ["CartesianProduct"],
    # IVF probe inherits the k-means no-sort rule (the BNLJ present is
    # the intentional 1-row centroid-array broadcast, so it stays out
    # of this list)
    "ann_ivf_topk": ["CartesianProduct", "SortAggregate"],
}


def read_schema_width(plan: str) -> list[tuple[str, int]]:
    """(table, n_columns_read) per parquet scan — column-pruning evidence."""
    out = []
    for m in re.finditer(r"Location:.*?/(\w+)\.parquet.*?ReadSchema: struct<([^>]*)>", plan, re.S):
        cols = [c for c in m.group(2).split(",") if ":" in c]
        out.append((m.group(1), len(cols)))
    return out


def main() -> int:
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    failures = []
    sections = []
    # the audit is only a tripwire if it covers the whole registry: a new
    # registry entry without an AUDIT row fails here until one is written
    missing_audit = sorted(set(QUERIES) - set(AUDIT))
    if missing_audit:
        failures.append(
            "registry entries missing from AUDIT: " + ", ".join(missing_audit)
        )
    stray = sorted(set(PER_QUERY_FORBIDDEN) - set(AUDIT))
    if stray:
        failures.append(
            "PER_QUERY_FORBIDDEN names never audited (dead guards): "
            + ", ".join(stray)
        )
    stale = sorted(set(AUDIT) - set(QUERIES))
    if stale:
        failures.append(
            "AUDIT rows for entries no longer in the registry: "
            + ", ".join(stale)
        )
    for name, needles in AUDIT.items():
        if name not in QUERIES:  # already reported above; keep auditing
            continue
        fn, _ = QUERIES[name]
        df = fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        for needle in needles:
            if needle not in plan:
                failures.append(f"{name}: missing `{needle}`")
        for bad in FORBIDDEN:
            if bad in plan:
                failures.append(f"{name}: Python eval node `{bad}` in analytic plan")
        for bad in PER_QUERY_FORBIDDEN.get(name, []):
            if bad in plan:
                failures.append(f"{name}: forbidden plan node `{bad}` (scale regression)")
        if name in PUSHDOWN_REQUIRED and not re.search(
            r"PushedFilters: \[[^\]]", plan
        ):
            failures.append(f"{name}: no non-empty PushedFilters reached a scan")
        widths = read_schema_width(plan)
        sections.append((name, needles, widths, plan))

    # --- merge-on-read resolution plan: the base side must never be
    # shuffled (broadcast three-branch, VERDICT r2 #4 / round-3 MOR) ---
    import tempfile

    from pyspark.sql import functions as F  # noqa: E402

    from file_standardization_etl_spark.lake.table import LakeTable  # noqa: E402

    with tempfile.TemporaryDirectory(prefix="plan_mor_") as tmp:
        t = LakeTable.create(
            spark,
            os.path.join(tmp, "t"),
            [("k", "string"), ("v", "int"), ("last_lsn", "bigint")],
            "k",
            n_buckets=8,
            order_column="last_lsn",
        )
        t.overwrite(
            spark.createDataFrame(
                [(f"k{i}", i, 1) for i in range(64)], "k string, v int, last_lsn long"
            )
        )
        t.merge(
            spark.createDataFrame([("k1", 100, 2)], "k string, v int, last_lsn long"),
            mode="mor",
            delta_rows=1,
        )
        df = t.read()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        name = "lake_mor_read"
        needles = ["BroadcastHashJoin"]
        for needle in needles:
            if needle not in plan:
                failures.append(f"{name}: missing `{needle}`")
        for bad in ["SortMergeJoin", "CartesianProduct", "ShuffledHashJoin"]:
            if bad in plan:
                failures.append(
                    f"{name}: `{bad}` — MOR resolution must not shuffle the base"
                )
        sections.append((name, needles, read_schema_width(plan), plan))

    # --- connected-components superstep: the per-round plan must be one
    # equi-join + an all-scalar min HashAggregate (map-side combine — a
    # hot node collapses before the shuffle); no cartesian, no Python ---
    from file_standardization_etl_spark.operators import graph  # noqa: E402

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    sym = graph._symmetrize(edges, "doc_a", "doc_b")
    labels = sym.selectExpr("u as node", "v as lab").groupBy("node").agg(
        F.min("lab").alias("lab")
    )
    df = graph.hashmin_superstep(sym, labels)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    name = "dedup_cluster_cc_superstep"
    needles = ["HashAggregate", "Join"]
    for needle in needles:
        if needle not in plan:
            failures.append(f"{name}: missing `{needle}`")
    for bad in FORBIDDEN + ["CartesianProduct", "BroadcastNestedLoopJoin"]:
        if bad in plan:
            failures.append(f"{name}: forbidden plan node `{bad}`")
    sections.append((name, needles, read_schema_width(plan), plan))
    spark.stop()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit of the headline queries\n\n"
            "Generated by `python tools/explain_plans.py` (re-run to refresh; it\n"
            "exits non-zero if an audited plan property regresses). Each row\n"
            "lists the properties asserted for that query — filter pushdown\n"
            "reaching the parquet scan, broadcast joins on small sides,\n"
            "whole-stage codegen, no Python eval nodes in analytic plans — and\n"
            "the per-scan `ReadSchema` column counts as column-pruning\n"
            "evidence. The full formatted plans are written next to it to\n"
            f"`PLANS.full.md`, which is not committed. Scale factor: `{SF}`.\n\n"
            "| query | asserted | scan column counts |\n|---|---|---|\n"
        )
        for name, needles, widths, _plan in sections:
            asserted = ", ".join(f"`{n}`" for n in needles)
            scans = ", ".join(f"{t}={n}" for t, n in widths)
            f.write(f"| {name} | {asserted} | {scans} |\n")
    with open(os.path.join(root, "PLANS.full.md"), "w") as f:
        f.write(f"# Full formatted plans (`tools/explain_plans.py`, `{SF}`)\n\n")
        for name, _needles, _widths, plan in sections:
            f.write(f"## {name}\n\n```\n" + plan.strip() + "\n```\n\n")

    if failures:
        print("PLAN AUDIT FAILURES:")
        for x in failures:
            print(" -", x)
        return 1
    print(f"plan audit OK: {len(AUDIT)} queries, PLANS.md and PLANS.full.md written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
