"""Distributed connected components over near-duplicate pair graphs.

Completes the dedup pipeline: the LSH/SimHash operators emit *pairs*
(`dedup_text.minhash_lsh_candidates` etc.), but a 100 TB dedup job needs
*clusters* — transitive closure of the pair graph — so one canonical
document survives per component and every transitive duplicate is
dropped (A~B, B~C must kill two of {A,B,C} even when A~C was never
emitted as a pair).

Two formulations, parity-tested against each other:

- :func:`connected_components` — hash-min label propagation to fixpoint.
  Each superstep is one shuffle (edge ⋈ labels, then min-agg); rounds =
  graph diameter. Near-dup graphs are unions of LSH-bucket cliques, so
  the diameter is tiny (2-4) and this is the fast path in practice.
- :func:`connected_components_star` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14, public). Converges in O(log n) rounds on ANY graph shape —
  the safety net for adversarial long-path graphs (e.g. chained
  near-dups across a crawl) where plain propagation would need
  diameter rounds.

Both return the exact same deterministic labeling: every node labeled
with the MINIMUM node id reachable from it, so results are
oracle-checkable against a DuckDB recursive CTE (and the component id
doubles as the canonical keeper key).

Scale notes: labels are 2-column narrow rows; each superstep shuffles
O(|E|) rows with map-side combine on the min-agg. `localCheckpoint`
truncates the plan between supersteps (an iterative algorithm's lineage
otherwise grows unboundedly and re-executes prior rounds). The
convergence probe piggybacks on the superstep's own join — one count
action per round over already-materialized inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list (u, v) with both orientations, self-loops
    dropped. Kept lazy — callers checkpoint what they iterate on."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def hashmin_superstep(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One hash-min round: label'(u) = min(label(u), min_{v∈N(u)} label(v)).

    Exposed separately so the plan audit (tools/explain_plans.py) can
    assert the per-round shape — one equi-join for the messages, one
    all-scalar min HashAggregate (map-side combined), no cartesian —
    without executing the fixpoint loop."""
    msgs = sym.join(labels.withColumnRenamed("node", "v"), on="v").select(
        F.col("u").alias("node"), "lab"
    )
    return labels.union(msgs).groupBy("node").agg(F.min("lab").alias("lab"))


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """(node, component) for every node with ≥1 edge; component = min
    reachable node id. Hash-min propagation to fixpoint.

    Superstep: label'(u) = min(label(u), min over neighbors v of
    label(v)). The init already folds one step in (min of self and
    direct neighbors). Each round is a single shuffle on `v` for the
    message join plus the min HashAggregate (full map-side combine —
    labels are scalar, so a hot node collapses to ≤1 row per task
    before shuffling, same structural skew absorption as the CDC LWW).
    """
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("node"), F.col("v").alias("lab"))
        .union(sym.select(F.col("u").alias("node"), F.col("u").alias("lab")))
        .groupBy("node")
        .agg(F.min("lab").alias("lab"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        new = hashmin_superstep(sym, labels).localCheckpoint(eager=True)
        changed = (
            new.withColumnRenamed("lab", "new_lab")
            .join(labels, on="node")
            .filter(F.col("new_lab") != F.col("lab"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(f"hash-min CC did not converge in {max_iters} rounds")
    return labels.select(F.col("node").alias("doc_id"), F.col("lab").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """Same output as :func:`connected_components`, via alternating
    large-star / small-star (O(log n) rounds on any graph).

    Working state is an edge list kept as (u, v) pairs; invariant
    maintained by both operations: (a) connectivity is preserved, and
    (b) edges only ever point "downhill" toward smaller ids. On
    convergence the edge set is a forest of depth-1 stars rooted at
    each component's minimum — read the labels straight off the edges.

    large-star(u): link every neighbor v > u to m = min(N(u) ∪ {u}).
    small-star(u): link every neighbor v ≤ u (plus u itself) to m.
    Each op is an all-scalar min HashAggregate per node (full map-side
    combine) plus one equi-join of the edges back to their node's m —
    the neighborhood is NEVER materialized as an array (a collect_set
    would buffer a hub node's entire 10^7-edge neighborhood in one
    aggregation buffer — the same degenerate-bucket OOM shape the
    MinHash pre-filter exists for). Both sides of the join hash on `u`,
    so the agg's exchange is reused for the join. This beats propagation
    on high-diameter graphs: information jumps star-distance per round
    instead of hop-distance.
    """
    sym = _symmetrize(edges, src, dst)
    # orient edges downhill once; (u, v) with v < u
    cur = (
        sym.filter(F.col("v") < F.col("u"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhood view must be symmetric for the min to be correct
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        j = both.join(mins, on="u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("t"), "m"
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("t"), "m"
            ).union(mins.select(F.col("u").alias("t"), "m"))
        return (
            out.filter(F.col("t") != F.col("m"))
            .select(F.col("t").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    for _ in range(max_iters):
        nxt = star(star(cur, large=True), large=False).localCheckpoint(eager=True)
        # fixpoint when the downhill edge set is stable: both sides of
        # the symmetric difference counted in one Spark action
        delta = nxt.exceptAll(cur).union(cur.exceptAll(nxt)).count()
        cur = nxt
        if delta == 0:
            break
    else:
        raise RuntimeError(f"star CC did not converge in {max_iters} rounds")
    # the converged forest is depth-1 stars: every non-root points at its
    # component's minimum; roots have no outgoing edge and label themselves
    members = cur.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "component", F.col("doc_id")
    )
    return members.union(roots)


def cluster_keepers(
    docs: DataFrame, components: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """One canonical document per duplicate cluster: (component, n_docs,
    keeper_doc) where the keeper is the longest text, ties to the
    smallest doc_id — the usual "keep the most complete copy" policy.

    Plan: broadcast-join the (tiny, 2-column) component labels into the
    corpus, aggregate per-component stats (all-scalar buffers →
    HashAggregate with map-side combine; a min/max over a STRUCT would
    plan as SortAggregate — the round-2 k-means lesson), broadcast the
    cluster-sized stats back to pick the argmax row, and min the ties.
    The corpus side never shuffles: both joins broadcast the small side
    and the final agg groups on `component` (cluster count ≪ doc count).
    """
    lab = components.withColumnRenamed("doc_id", key) if key != "doc_id" else components
    joined = docs.select(key, F.length("text").alias("len")).join(
        F.broadcast(lab), on=key
    )
    stats = joined.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"), F.max("len").alias("best_len")
    )
    return (
        joined.join(F.broadcast(stats), on="component")
        .filter(F.col("len") == F.col("best_len"))
        .groupBy("component", "n_docs")
        .agg(F.min(key).alias("keeper_doc"))
    )
