"""Benchmark harness.

Default mode (what the driver runs per round): on local[$SPARK_GRAFT_CPUS]
at $SPARK_GRAFT_SF_DIR, (1) replay a deterministic executor-generated WAL
through the full streaming CDC engine and measure events/sec, (2) time the
headline analytic queries. Prints ONE JSON line.

``--scaling`` mode (sandbox proxy for the N vs 4N executor criterion,
BASELINE.json): runs the identical CDC replay at two parallelism levels
(default local[2] vs local[8]; each core count in its own subprocess) and
prints both throughputs + efficiency = (rate_hi/rate_lo)/(hi/lo). See the
"Scaling mode" comment block below and BASELINE.md for why 2->8 and why
subprocesses: this VM's memory subsystem saturates at ~8-10 cores, which
caps ANY data-touching workload (bare parquet scans included) well below
4x from 4->16 — at 2->8 the measurement reflects the engine.

Usage:
    python bench.py                  # driver mode, one JSON line
    python bench.py --scaling        # two-parallelism scaling report
    python bench.py --events 500000  # override replay size
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE_QUERIES = [
    "cdc_lww_state",
    "cdc_replay_state",
    "tpch_q1_pricing",
    "agg_rollup_dims",
    "join_broadcast_lookup",
    "join_fallback_cascade",
    "window_ffill",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_ivf_kmeans_topk",
    "join_entity_cascade",
    "scalar_dates",
    "ann_brute_topk",
    "text_quality",
    "text_repetition",
    "tokens_contamination",
    "tokens_pack_examples",
    "join_asof",
    "window_sessionize",
    "agg_percentiles_sketch",
    "join_stream_interval",
    "tokens_dup_spans",
    "tokens_strip_dup_spans",
    "tokens_strip_dup_spans_rewrite",
    "tokens_token_span_rewrite",
]


def jit_code_cache_stats(spark) -> dict:
    """JIT code-cache occupancy of the bench JVM via `jcmd
    Compiler.codecache` — self-diagnostic for the exhaustion mode fixed
    in round 5 (default 240 MB cache filling late-session and degrading
    codegen-heavy queries 2.4x). Best-effort: absent jcmd -> {}."""
    import re as _re
    import subprocess

    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        out = subprocess.run(
            ["jcmd", str(pid), "Compiler.codecache"],
            capture_output=True, text=True, timeout=30,
        ).stdout
        heaps = {
            m.group(1): {"size_kb": int(m.group(2)), "used_kb": int(m.group(3))}
            for m in _re.finditer(
                r"CodeHeap '([^']+)': size=(\d+)Kb used=(\d+)Kb", out
            )
        }
        full = _re.search(r"full_count=(\d+)", out)
        return {
            "heaps": heaps,
            "full_count": int(full.group(1)) if full else None,
            "compilation_enabled": "compilation: enabled" in out,
        }
    except Exception:
        return {}


def run_hw_control(spark, sf_dir: str) -> dict:
    """Bare scan+agg over the benchmark's own parquet — ZERO engine code.
    The box's documented contention swing is up to 5x; this probe makes
    every driver-mode artifact self-report its window quality instead of
    needing a footnote (VERDICT r4 #4 — previously only --scaling mode
    carried the control). Two probes: a byte-bound text scan (memory
    bandwidth) and a numeric column scan+agg (CPU-side agg). Run at
    bench start AND end — drift between the two flags a window shift
    mid-artifact."""
    from pyspark.sql import functions as F

    doc_path = os.path.join(sf_dir, "documents.parquet")
    li_path = os.path.join(sf_dir, "lineitem.parquet")
    if not (os.path.exists(doc_path) and os.path.exists(li_path)):
        # CDC-only hosts (--skip-queries) may have no query test data;
        # the control is evidence, never a new failure mode
        return {"skipped": f"no test tables under {sf_dir}"}
    docs = spark.read.parquet(doc_path)
    li = spark.read.parquet(li_path)
    text_walls, num_walls = [], []
    for _ in range(3):
        t0 = time.time()
        docs.select(F.sum(F.octet_length("text"))).collect()
        text_walls.append(round(time.time() - t0, 3))
        t0 = time.time()
        li.select(
            F.sum("l_quantity"),
            F.sum("l_extendedprice"),
            F.sum("l_discount"),
            F.sum("l_tax"),
        ).collect()
        num_walls.append(round(time.time() - t0, 3))
    return {
        "text_scan_sec": min(text_walls),
        "text_scan_runs": text_walls,
        "numeric_scan_sec": min(num_walls),
        "numeric_scan_runs": num_walls,
    }


def make_spark(cpus: int, local_dir: str | None = None):
    from file_standardization_etl_spark.session import get_spark

    extra = {"spark.local.dir": local_dir} if local_dir else None
    return get_spark(
        app_name=f"bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra,
    )


def _one_replay(
    spark, log_dir: str, lake_dir: str, n_events: int, phase_sink: dict | None = None
) -> float:
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.streaming.runner import StreamingCdcRunner

    engine = CdcEngine(spark, lake_dir, n_buckets=64)
    engine.init()
    runner = StreamingCdcRunner(spark, log_dir, engine, max_files_per_trigger=10_000)
    t0 = time.time()
    runner.run_available_now(timeout_sec=3600)
    wall = time.time() - t0
    assert engine.applied_lsn() == n_events, "replay did not drain the WAL"
    if phase_sink is not None:
        phase_sink[wall] = {k: round(v, 2) for k, v in engine.timings.items()}
    return wall


def run_cdc_replay(
    spark, n_events: int, n_segments: int = 4, workdir: str | None = None, repeats: int = 2
) -> dict:
    """Full-engine replay: executor-side generated WAL → streaming drain →
    events/sec. Deterministic (seeded) input, same at every parallelism.

    The first replay in a fresh JVM is ~4× slower (codegen JIT + Python
    worker pool spin-up), so a small warmup replay runs first and the
    measured replay repeats ``repeats`` times, reporting the best (the
    steady-state number a long-running streaming job actually sustains).
    """
    from file_standardization_etl_spark.cdc.events import spark_generate_events

    work = workdir or tempfile.mkdtemp(prefix="bench_cdc_")
    log_dir = os.path.join(work, "wal")
    seg = n_events // n_segments

    # JIT/worker-pool warmup FIRST (it JITs the generator's expression
    # tree and the write path too), so gen_sec measures steady-state
    # generation like every other best-of number here — r03 reported
    # gen 9.75 s vs replay 3.91 s only because gen absorbed the fresh
    # JVM's codegen cost
    warm = os.path.join(work, "warm_wal")
    spark_generate_events(spark, 200_000, n_docs=2_000).write.parquet(warm)
    _one_replay(spark, warm, os.path.join(work, "warm_lake"), 200_000)

    t_gen = time.time()
    for i in range(n_segments):
        df = spark_generate_events(
            spark, n_events=seg, n_docs=max(1000, n_events // 100), lsn_start=1 + i * seg
        )
        df.write.mode("append").parquet(log_dir)
    gen_sec = time.time() - t_gen

    walls = []
    phases: dict[float, dict] = {}
    for r in range(repeats):
        walls.append(
            _one_replay(
                spark, log_dir, os.path.join(work, f"lake{r}"), n_events, phase_sink=phases
            )
        )
    wall = min(walls)
    streaming_best, streaming_runs = _time_streaming_ops(spark, log_dir, work, repeats)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "streaming_ops": streaming_best,
        "streaming_ops_runs": streaming_runs,
        "events": n_events,
        "gen_sec": round(gen_sec, 2),
        "replay_sec": round(wall, 2),
        "replay_runs_sec": [round(w, 2) for w in walls],
        "events_per_sec": round(n_events / wall, 1),
        # engine phase split of the best run: regressions localize to a
        # phase instead of being argued from total wall + host variance
        "phase_sec": phases.get(wall, {}),
    }


def run_bootstrap(
    spark, n_docs: int = 500_000, versions: int = 3, repeats: int = 2
) -> dict:
    """Cold-start cost: seed a fresh table from an n_docs consistent
    snapshot via CdcEngine.bootstrap vs replaying the WAL HISTORY that
    produced it (``versions`` events per doc, last writer wins) through
    apply_batch. This is the structural choice bootstrap exists for: a
    long-lived stream's history is a multiple of its net state (10^10
    events netting to ~10^8 docs in the north rule), and bootstrap's
    cost is O(state) where replay's is O(history). Same payload
    expressions, same parquet sourcing, same JVM."""
    from pyspark.sql import functions as F

    from file_standardization_etl_spark.cdc.apply import CdcEngine

    work = tempfile.mkdtemp(prefix="bench_boot_")

    def payload(version_col):
        return F.expr(
            "transform(sequence(1, 64), "
            f"i -> cast(pmod(id * 2654435761 + {version_col} * 31 + i, 50257) as int))"
        )

    # WAL history: versions events per doc (lsn = id + 1 + v*n_docs), the
    # final version's payload equals the snapshot row
    ev_dir = os.path.join(work, "wal")
    (
        spark.range(n_docs)
        .select("id", F.explode(F.expr(f"sequence(0, {versions - 1})")).alias("v"))
        .select(
            (F.col("id") + 1 + F.col("v") * n_docs).alias("lsn"),
            F.when(F.col("v") == 0, F.lit("insert")).otherwise(F.lit("update")).alias("op"),
            F.format_string("doc%09d", F.col("id")).alias("doc_id"),
            payload("v").alias("tokens"),
            F.lit(64).cast("int").alias("n_tok"),
            F.lit("web").alias("source"),
            F.lit(None).cast("string").alias("schema_change"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        .write.parquet(ev_dir)
    )
    snap_dir = os.path.join(work, "snap")
    (
        spark.range(n_docs)
        .select(
            F.format_string("doc%09d", F.col("id")).alias("doc_id"),
            payload(str(versions - 1)).alias("tokens"),
            F.lit(64).cast("int").alias("n_tok"),
            F.lit("web").alias("source"),
            (F.col("id") + 1 + (versions - 1) * n_docs).alias("lsn"),
        )
        .write.parquet(snap_dir)
    )
    as_of = versions * n_docs
    boot_walls, replay_walls = [], []
    for r in range(repeats):
        eng = CdcEngine(spark, os.path.join(work, f"boot{r}"), n_buckets=64)
        eng.init()
        t0 = time.time()
        eng.bootstrap(spark.read.parquet(snap_dir), as_of_lsn=as_of)
        boot_walls.append(round(time.time() - t0, 3))
        eng2 = CdcEngine(spark, os.path.join(work, f"replay{r}"), n_buckets=64)
        eng2.init()
        t0 = time.time()
        eng2.apply_batch(spark.read.parquet(ev_dir), batch_id=0)
        replay_walls.append(round(time.time() - t0, 3))
    shutil.rmtree(work, ignore_errors=True)
    boot, rep = min(boot_walls), min(replay_walls)
    return {
        "n_docs": n_docs,
        "wal_events": versions * n_docs,
        "bootstrap_sec": boot,
        "bootstrap_runs_sec": boot_walls,
        "bootstrap_docs_per_sec": round(n_docs / boot, 1),
        "history_replay_sec": rep,
        "history_replay_runs_sec": replay_walls,
        "speedup_vs_history_replay": round(rep / max(boot, 1e-9), 2),
    }


def run_cdc_incremental(
    spark,
    n_seed: int = 500_000,
    n_batches: int = 5,
    batch_rows: int = 20_000,
    repeats: int = 2,
    n_docs: int = 200_000,
) -> dict:
    """The live-table scenario the merge-on-read path exists for: seed a
    populated lake table, then apply small micro-batches and time ONLY
    the incremental applies (the engine's default ``auto`` merge: MOR
    delta stacks that fold back copy-on-write)."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.events import spark_generate_events

    walls = []
    merges = []
    for r in range(repeats):
        work = tempfile.mkdtemp(prefix="bench_incr_")
        eng = CdcEngine(spark, os.path.join(work, "lake"), n_buckets=64)
        eng.init()
        eng.apply_batch(
            spark_generate_events(spark, n_seed, n_docs=n_docs, lsn_start=1),
            batch_id=0,
        )
        merge0 = eng.timings.get("merge", 0.0)
        t0 = time.time()
        lsn = n_seed + 1
        for b in range(1, n_batches + 1):
            eng.apply_batch(
                spark_generate_events(spark, batch_rows, n_docs=n_docs, lsn_start=lsn),
                batch_id=b,
            )
            lsn += batch_rows
        walls.append(time.time() - t0)
        merges.append(eng.timings.get("merge", 0.0) - merge0)
        shutil.rmtree(work, ignore_errors=True)
    best = min(walls)
    return {
        "sec_per_batch": round(best / n_batches, 3),
        "events_per_sec": round(batch_rows * n_batches / best, 1),
        "runs_sec": [round(w, 2) for w in walls],
        # merge phase alone (engine _mark timings), unmasked by the fixed
        # per-batch cost (LWW, lineage, routed write)
        "merge_sec_per_batch": round(min(merges) / n_batches, 3),
        "config": {
            "n_seed": n_seed,
            "n_batches": n_batches,
            "batch_rows": batch_rows,
            "n_docs": n_docs,
        },
    }


def run_changefeed(
    spark,
    n_seed: int = 500_000,
    batch_rows: int = 64,
    n_docs: int = 200_000,
    n_buckets: int = 256,
) -> dict:
    """Changelog-emission cost: after a small micro-batch lands on a
    seeded table, `changes(v_before, head)` costs O(affected buckets)
    thanks to the manifest diff — reported against the unprunable
    genesis diff (`changes(0, head)`, a full two-snapshot keyed diff) on
    the same table, same JVM. Geometry mirrors the web-scale shape where
    pruning matters: bucket count well above the batch's distinct keys
    (at 10^5 buckets and 10^4-key batches a 100 TB table prunes >90%;
    this proxy prunes ~75% at 256 buckets / 64 keys)."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.events import spark_generate_events

    work = tempfile.mkdtemp(prefix="bench_feed_")
    eng = CdcEngine(spark, os.path.join(work, "lake"), n_buckets=n_buckets)
    eng.init()
    eng.apply_batch(
        spark_generate_events(spark, n_seed, n_docs=n_docs, lsn_start=1), batch_id=0
    )
    v1 = eng.table.current_version()
    eng.apply_batch(
        spark_generate_events(
            spark, batch_rows, n_docs=n_docs, lsn_start=n_seed + 1
        ),
        batch_id=1,
    )
    out = {}
    t0 = time.time()
    n_incr = eng.changes(v1).count()
    out["incremental_sec"] = round(time.time() - t0, 3)
    out["incremental_rows"] = n_incr
    t0 = time.time()
    n_full = eng.changes(0).count()
    out["full_diff_sec"] = round(time.time() - t0, 3)
    out["full_diff_rows"] = n_full
    out["prune_speedup"] = round(
        out["full_diff_sec"] / max(out["incremental_sec"], 1e-9), 2
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def run_requeue(
    spark,
    n_events: int = 500_000,
    n_docs: int = 200_000,
    bad_frac: float = 0.10,
    repeats: int = 2,
) -> dict:
    """Dead-letter replay cost: seed a table from a stream where 10% of
    events carry a non-whitelisted source (they quarantine), then widen
    the whitelist and requeue. This is the expensive maintenance mode —
    the rescue set runs through the stream's chunk pipeline at the
    unchanged watermark, so its merge is copy-on-write (requeued LSNs
    are at or below the watermark, where merge-on-read's
    newest-commit-wins resolution would be wrong), and it ends with a
    quarantine compact + filtered archive swap. Reported per round so
    the CoW cost is visible round-over-round."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.events import (
        BAD_SOURCES,
        SOURCE_WHITELIST,
        spark_generate_events,
    )

    widened = SOURCE_WHITELIST + [s for s in BAD_SOURCES if s]
    walls, res = [], {}
    for r in range(repeats):
        work = tempfile.mkdtemp(prefix="bench_requeue_")
        eng = CdcEngine(spark, os.path.join(work, "lake"), n_buckets=64)
        eng.init()
        eng.apply_batch(
            spark_generate_events(
                spark, n_events, n_docs=n_docs, bad_source_frac=bad_frac,
                corrupt_frac=0.0,
            ),
            batch_id=0,
        )
        t0 = time.time()
        res = eng.requeue_quarantine(widened)
        walls.append(round(time.time() - t0, 3))
        shutil.rmtree(work, ignore_errors=True)
    best = min(walls)
    return {
        "examined": res.get("examined", 0),
        "rescued": res.get("rescued", 0),
        "merged": res.get("merged", 0),
        "requeue_sec": best,
        "requeue_runs_sec": walls,
        "rescued_events_per_sec": round(res.get("rescued", 0) / best, 1),
        "config": {"n_events": n_events, "n_docs": n_docs, "bad_frac": bad_frac},
    }


def run_vocab_crossover(
    spark,
    points: tuple = ((64_000, 256), (256_000, 1024), (1_000_000, 4096)),
    batch_rows: int = 500,
    n_batches: int = 3,
) -> dict:
    """The vocab-IVM crossover, measured instead of asserted (VERDICT r3:
    refresh_speedup_vs_recompute was 0.7 at one sandbox geometry). The
    claim is asymptotic: maintenance is O(delta + affected-bucket bytes)
    per refresh while recompute is O(corpus). For bucket pruning to bite
    the way it does at 10^10 events, bucket count must grow with the
    corpus (every real deployment sizes buckets to a target file size —
    here ~250 docs/bucket) while the micro-batch stays fixed, so the
    affected fraction shrinks as the corpus grows. Sweep: corpus size ×
    bucket count up 16x, same micro-batches; report maintain-per-batch
    (flat) vs recompute (linear) at each point. Seeding uses the
    snapshot bootstrap so the sweep's cost is maintenance, not replay."""
    from pyspark.sql import functions as F

    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.events import spark_generate_events

    out = {"points": [], "config": {"batch_rows": batch_rows, "n_batches": n_batches}}
    for n_docs, n_buckets in points:
        work = tempfile.mkdtemp(prefix="bench_vxo_")
        eng = CdcEngine(
            spark, os.path.join(work, "lake"), n_buckets=n_buckets,
            maintain_vocab=True,
        )
        eng.init()
        snap = spark.range(n_docs).select(
            F.format_string("doc%07d", F.col("id")).alias("doc_id"),
            F.expr(
                "transform(sequence(1, 64), "
                "i -> cast(pmod(id * 2654435761 + i, 50257) as int))"
            ).alias("tokens"),
            F.lit(64).cast("int").alias("n_tok"),
            F.lit("web").alias("source"),
            (F.col("id") + 1).alias("lsn"),
        )
        eng.bootstrap(snap, as_of_lsn=n_docs)
        base_stage = eng.timings.get("vocab_stage", 0.0)
        base_fold = eng.timings.get("vocab_fold", 0.0)
        lsn = n_docs + 1
        t0 = time.time()
        for b in range(1, n_batches + 1):
            eng.apply_batch(
                spark_generate_events(
                    spark, batch_rows, n_docs=n_docs, lsn_start=lsn
                ),
                batch_id=b,
            )
            lsn += batch_rows
        t_drain = time.time()
        eng._vocab.fold_ready()
        drain = time.time() - t_drain
        wall = time.time() - t0
        stage_sec = eng.timings.get("vocab_stage", 0.0) - base_stage
        fold_sec = eng.timings.get("vocab_fold", 0.0) - base_fold + drain
        maintain = (stage_sec + fold_sec) / n_batches
        t1 = time.time()
        eng.state().select(F.explode("tokens").alias("t")).groupBy(
            F.col("t").cast("bigint").alias("token")
        ).agg(F.count(F.lit(1)).alias("n_occ")).count()
        recompute_sec = time.time() - t1
        shutil.rmtree(work, ignore_errors=True)
        out["points"].append(
            {
                "n_docs": n_docs,
                "n_buckets": n_buckets,
                "maintain_sec_per_batch": round(maintain, 3),
                "stage_sec_per_batch": round(stage_sec / n_batches, 3),
                "fold_sec_per_batch": round(fold_sec / n_batches, 3),
                "incremental_wall_sec": round(wall, 2),
                "recompute_sec": round(recompute_sec, 3),
                "speedup_vs_recompute": round(recompute_sec / max(maintain, 1e-9), 2),
            }
        )
    out["speedup_at_largest"] = out["points"][-1]["speedup_vs_recompute"]
    return out


def run_vocab_maintenance(
    spark,
    n_seed: int = 500_000,
    n_batches: int = 5,
    batch_rows: int = 2_000,
    n_docs: int = 200_000,
) -> dict:
    """Incremental-view-maintenance bench (cdc/aggregates.py): seed a
    table with the token-vocab aggregate maintained, apply micro-batches,
    and report the per-batch maintenance overhead (outbox stage + fold)
    against the O(corpus) alternative — recomputing the aggregate from
    the final table state. At 10^10 events the recompute is a full-table
    token-array scan per refresh; maintenance stays O(delta)."""
    from pyspark.sql import functions as F

    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.cdc.events import spark_generate_events

    # bucket count follows the deployment sizing rule (~250 docs/bucket,
    # buckets grow with the corpus) — at 64 buckets every batch touched
    # EVERY bucket, so the stage's "pruned" old-side read was a
    # full-corpus scan and the speedup-vs-recompute number measured a
    # degenerate geometry (see run_vocab_crossover for the sweep)
    work = tempfile.mkdtemp(prefix="bench_vocab_")
    eng = CdcEngine(
        spark, os.path.join(work, "lake"), n_buckets=2048, maintain_vocab=True
    )
    eng.init()
    eng.apply_batch(
        spark_generate_events(spark, n_seed, n_docs=n_docs, lsn_start=1),
        batch_id=0,
    )
    lsn = n_seed + 1
    base_stage = eng.timings.get("vocab_stage", 0.0)
    base_fold = eng.timings.get("vocab_fold", 0.0)
    t0 = time.time()
    for batch_id in range(1, n_batches + 1):
        eng.apply_batch(
            spark_generate_events(spark, batch_rows, n_docs=n_docs, lsn_start=lsn),
            batch_id=batch_id,
        )
        lsn += batch_rows
    wall = time.time() - t0
    stage_sec = eng.timings.get("vocab_stage", 0.0) - base_stage
    fold_sec = eng.timings.get("vocab_fold", 0.0) - base_fold
    per_batch = round((stage_sec + fold_sec) / n_batches, 3)

    n_vocab = eng.vocab().count()
    t1 = time.time()
    recompute = (
        eng.state()
        .select(F.explode("tokens").alias("t"))
        .groupBy(F.col("t").cast("bigint").alias("token"))
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .count()
    )
    recompute_sec = time.time() - t1
    assert recompute >= n_vocab  # recompute includes nothing vocab misses
    shutil.rmtree(work, ignore_errors=True)
    return {
        "maintain_sec_per_batch": per_batch,
        "stage_sec_per_batch": round(stage_sec / n_batches, 3),
        "fold_sec_per_batch": round(fold_sec / n_batches, 3),
        "incremental_wall_sec": round(wall, 2),
        "recompute_sec": round(recompute_sec, 3),
        # maintenance cost is flat in corpus size (delta-bounded);
        # the recompute is a full token-array scan — linear. The
        # ratio at this sf understates the 10^10-event gap by the
        # corpus-size ratio.
        "refresh_speedup_vs_recompute": round(recompute_sec / max(per_batch, 1e-9), 2),
        # single-geometry number; the corpus-growth sweep that shows
        # the crossover widening is run_vocab_crossover
        "see_also": "vocab_crossover",
        "n_vocab_tokens": n_vocab,
        "config": {
            "n_seed": n_seed,
            "n_batches": n_batches,
            "batch_rows": batch_rows,
            "n_docs": n_docs,
        },
    }


def _time_streaming_ops(
    spark, log_dir: str, work: str, repeats: int = 2
) -> tuple[dict, dict]:
    """Drain the replay WAL through the two event-time streaming operators
    (watermarked windowed stats; applyInPandasWithState running totals) so
    regressions in the streaming path are caught per-round, not only by
    pytest. Each drain gets a FRESH checkpoint/sink (we're timing the full
    drain, not incremental catch-up); best-of-N like the queries."""
    from file_standardization_etl_spark.streaming.windows import (
        run_stateful_totals,
        run_windowed_stats,
    )

    best, runs = {}, {}
    specs = {
        "windowed_source_stats": lambda tag: run_windowed_stats(
            spark,
            log_dir,
            os.path.join(work, f"wchk_{tag}"),
            os.path.join(work, f"wout_{tag}"),
        ),
        "stateful_source_totals": lambda tag: run_stateful_totals(
            spark, log_dir, os.path.join(work, f"schk_{tag}"), f"bench_totals_{tag}"
        ),
    }
    for name, fn in specs.items():
        walls = []
        for r in range(repeats):
            t0 = time.time()
            fn(f"{name[:4]}{r}")
            walls.append(round(time.time() - t0, 3))
        best[name] = min(walls)
        runs[name] = walls
    return best, runs


def run_queries(spark, sf_dir: str, repeats: int = 2) -> tuple[dict, dict]:
    """Best-of-N per query, all runs reported.

    Run 1 of a query in a fresh JVM pays whole-stage-codegen JIT for its
    expression tree (measured 5-10 s for the md5-heavy dedup queries —
    the BENCH_r01 `dedup_minhash_lsh` 34.6 s outlier was that first-run
    cost landing in a host-contention window, steady state is ~2 s).
    Best-of-N is the steady-state number a resident engine sustains; the
    full run list stays in the JSON so an outlier self-diagnoses.
    """
    from file_standardization_etl_spark.plans.queries import QUERIES

    best, runs = {}, {}
    for name in HEADLINE_QUERIES:
        fn, _ = QUERIES[name]
        walls = []
        for _ in range(repeats):
            t0 = time.time()
            fn(spark, sf_dir).count()
            walls.append(round(time.time() - t0, 3))
        best[name] = min(walls)
        runs[name] = walls
    return best, runs


# ---------------------------------------------------------------------------
# Scaling mode (the BASELINE.json N vs 4N criterion, sandbox proxy).
#
# Design constraints discovered by measurement on this box (full numbers in
# BASELINE.md):
# - The VM's memory subsystem saturates at ~8-10 concurrent cores: even a
#   bare `spark.read.parquet(...).agg(...)` scan speeds up only ~1.5x from
#   4 to 16 cores, and cold pages fault in at ~140 MB/s (warm: 2.5+ GB/s).
#   The default pair is therefore N=2 -> 4N=8, where the hardware ceiling
#   is not binding and the measurement reflects the ENGINE's scalability.
# - A long-lived local JVM degrades runs that follow a different-core
#   session (heap layout/page-cache pathologies measured at 2-6x), so each
#   core count runs in its OWN subprocess.
# - The workload must be big enough that parallel work dominates the
#   ~3 s/batch fixed cost (job-launch + commit latency no core count
#   removes): default 32M small events, the honest stand-in for the north
#   rule's 10^10-event batches where fixed cost is noise.
# ---------------------------------------------------------------------------


def _scaling_parent(args):
    import subprocess

    lo, hi = args.cores_low, args.cores_high
    n_events = int(os.environ.get("SPARK_GRAFT_SCALE_EVENTS", 32_000_000))
    max_tokens = int(os.environ.get("SPARK_GRAFT_SCALE_MAX_TOKENS", 64))
    shm_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="bench_scaling_", dir=shm_root)
    try:
        base = [sys.executable, os.path.abspath(__file__)]
        env = dict(os.environ, SPARK_GRAFT_SCALE_EVENTS=str(n_events),
                   SPARK_GRAFT_SCALE_MAX_TOKENS=str(max_tokens))
        subprocess.run(
            base + ["--scaling-worker", "--worker-role", "gen", "--workdir", work],
            check=True, env=env,
        )
        report = {
            "events": n_events,
            "max_tokens": max_tokens,
            "cores": [lo, hi],
            "runs": {},
        }
        report["hw_ceiling"] = {}
        # The host shows multi-minute contention windows that can slow any
        # single phase ~3x. Alternating core counts across rounds samples
        # each side in different windows; best-of-all-rounds per side is
        # the steady-state estimate.
        rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", 2))
        walls: dict[int, list] = {lo: [], hi: []}
        for c in (lo, hi):
            out = subprocess.run(
                base + ["--scaling-worker", "--worker-role", "scan",
                        "--worker-cores", str(c), "--workdir", work],
                check=True, env=env, capture_output=True, text=True,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            report["hw_ceiling"][f"local[{c}]"] = json.loads(line)
        for _ in range(rounds):
            for c in (lo, hi):
                out = subprocess.run(
                    base + ["--scaling-worker", "--worker-role", "replay",
                            "--worker-cores", str(c), "--workdir", work],
                    check=True, env=env, capture_output=True, text=True,
                )
                line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
                walls[c].extend(json.loads(line)["replay_runs_sec"])
        for c in (lo, hi):
            report["runs"][f"local[{c}]"] = {
                "replay_sec": round(min(walls[c]), 2),
                "replay_runs_sec": walls[c],
                "events_per_sec": round(n_events / min(walls[c]), 1),
            }
        r_lo = report["runs"][f"local[{lo}]"]["events_per_sec"]
        r_hi = report["runs"][f"local[{hi}]"]["events_per_sec"]
        report["scaling_efficiency"] = round((r_hi / r_lo) / (hi / lo), 3)
        # the headline number, with its selection rule in the name: each
        # side's rate is the best of the UNION of all its samples across
        # all alternating rounds (clean-window estimate on a host with
        # multi-minute contention windows) — computed here, not argued in
        # BASELINE.md prose
        report["scaling_efficiency_best_of_union"] = report["scaling_efficiency"]
        # the platform's own ceiling for data-parallel work on this box: a
        # bare two-column parquet scan+agg of the same WAL (no engine code)
        s_lo = report["hw_ceiling"][f"local[{lo}]"]["scan_sec"]
        s_hi = report["hw_ceiling"][f"local[{hi}]"]["scan_sec"]
        report["hw_scaling_efficiency"] = round((s_lo / s_hi) / (hi / lo), 3)
        report["engine_vs_hw_efficiency"] = round(
            report["scaling_efficiency"] / report["hw_scaling_efficiency"], 3
        ) if report["hw_scaling_efficiency"] else None
        print(json.dumps(report))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _scaling_worker(args):
    n_events = int(os.environ.get("SPARK_GRAFT_SCALE_EVENTS", 32_000_000))
    max_tokens = int(os.environ.get("SPARK_GRAFT_SCALE_MAX_TOKENS", 64))
    work = args.workdir
    log_dir = os.path.join(work, "wal")
    warm_dir = os.path.join(work, "warm_wal")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))

    if args.worker_role == "gen":
        from file_standardization_etl_spark.cdc.events import spark_generate_events

        spark = make_spark(cpus, local_dir=os.path.join(work, "sparktmp_gen"))
        spark_generate_events(
            spark, n_events, n_docs=max(1000, n_events // 50), max_tokens=max_tokens
        ).write.parquet(log_dir)
        spark_generate_events(
            spark, 500_000, n_docs=10_000, max_tokens=max_tokens
        ).write.parquet(warm_dir)
        spark.stop()
        return

    from pyspark.sql import functions as F

    c = args.worker_cores
    spark = make_spark(c, local_dir=os.path.join(work, f"sparktmp{c}"))
    # page-warm the WAL (this VM faults cold pages at ~140 MB/s; a real
    # cluster's executors read from distributed storage they just wrote)
    wal = spark.read.parquet(log_dir)
    wal.select(F.sum("lsn"), F.sum(F.size("tokens"))).collect()

    if args.worker_role == "scan":
        # hardware-ceiling probe: bare scan+agg over the same WAL, no
        # engine code — what THIS box lets data-parallel work scale to
        walls = []
        for _ in range(3):
            t0 = time.time()
            wal.select(F.sum("lsn"), F.sum(F.size("tokens"))).collect()
            walls.append(time.time() - t0)
        spark.stop()
        print(json.dumps({"scan_sec": round(min(walls), 2)}))
        return

    _one_replay(spark, warm_dir, os.path.join(work, f"warm_lake{c}"), 500_000)
    shutil.rmtree(os.path.join(work, f"warm_lake{c}"), ignore_errors=True)
    walls = []
    for r in range(2):
        lake = os.path.join(work, f"lake{c}_{r}")
        walls.append(_one_replay(spark, log_dir, lake, n_events))
        shutil.rmtree(lake, ignore_errors=True)  # bound tmpfs usage
    spark.stop()
    print(json.dumps({
        "replay_sec": round(min(walls), 2),
        "replay_runs_sec": [round(x, 2) for x in walls],
        "events_per_sec": round(n_events / min(walls), 1),
    }))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-worker", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--worker-role", choices=["gen", "replay", "scan"], help=argparse.SUPPRESS)
    ap.add_argument("--worker-cores", type=int, default=8, help=argparse.SUPPRESS)
    ap.add_argument("--workdir", help=argparse.SUPPRESS)
    ap.add_argument("--cores-low", type=int, default=int(os.environ.get("SPARK_GRAFT_SCALE_LOW", 2)))
    ap.add_argument("--cores-high", type=int, default=int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", 8)))
    ap.add_argument("--events", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", 1_000_000)))
    ap.add_argument("--skip-queries", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    if args.scaling_worker:
        _scaling_worker(args)
        return

    if args.scaling:
        _scaling_parent(args)
        return

    spark = make_spark(cpus)
    t_total = time.time()
    hw_start = run_hw_control(spark, sf_dir)
    # best-of-2: this box shows multi-x run-to-run variance from neighbor
    # contention; a single sample regularly misreports steady state
    cdc = run_cdc_replay(spark, args.events, repeats=2)
    cdc["incremental"] = run_cdc_incremental(spark)
    cdc["vocab_maintenance"] = run_vocab_maintenance(spark)
    cdc["vocab_crossover"] = run_vocab_crossover(spark)
    cdc["changefeed"] = run_changefeed(spark)
    cdc["bootstrap"] = run_bootstrap(spark)
    cdc["requeue"] = run_requeue(spark)
    queries = {"cdc_full_replay": cdc["replay_sec"]}
    queries["cdc_incremental_batch"] = cdc["incremental"]["sec_per_batch"]
    queries["cdc_bootstrap"] = cdc["bootstrap"]["bootstrap_sec"]
    queries["vocab_maintain_batch"] = cdc["vocab_maintenance"]["maintain_sec_per_batch"]
    queries["cdc_requeue"] = cdc["requeue"]["requeue_sec"]
    query_runs = {"cdc_full_replay": cdc["replay_runs_sec"]}
    queries.update(cdc.pop("streaming_ops"))
    query_runs.update(cdc.pop("streaming_ops_runs"))
    if not args.skip_queries:
        best, runs = run_queries(spark, sf_dir)
        queries.update(best)
        query_runs.update(runs)
    hw_end = run_hw_control(spark, sf_dir)
    hw_control = {"start": hw_start, "end": hw_end}
    code_cache = jit_code_cache_stats(spark)
    total = round(time.time() - t_total, 2)
    # Full detail goes to a repo file; stdout gets ONE COMPACT line.
    # r03's line outgrew the driver's stdout-tail window (BENCH_r03.json
    # `parsed: null`), so the parseable contract is: headline fields +
    # per-query best-of map only, everything else in BENCH_DETAIL.json.
    full = {
        "metric": "cdc_replay_and_headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "query_runs": query_runs,
        "sf": sf,
        "cdc": cdc,
        "cpus": cpus,
        "hw_control": hw_control,
        "jit_code_cache": code_cache,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1)
    compact = {
        "metric": "cdc_replay_and_headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "cdc": {
            "events": cdc["events"],
            "replay_sec": cdc["replay_sec"],
            "events_per_sec": cdc["events_per_sec"],
            "incremental_merge_sec_per_batch": cdc["incremental"]["merge_sec_per_batch"],
            "bootstrap_speedup": cdc["bootstrap"]["speedup_vs_history_replay"],
            "requeue_rescued_per_sec": cdc["requeue"]["rescued_events_per_sec"],
            "vocab_crossover_speedup": [
                [p["n_docs"], p["speedup_vs_recompute"]]
                for p in cdc["vocab_crossover"]["points"]
            ],
        },
        "hw_control": (
            {
                "start_text_scan_sec": hw_start["text_scan_sec"],
                "end_text_scan_sec": hw_end["text_scan_sec"],
                "start_numeric_scan_sec": hw_start["numeric_scan_sec"],
                "end_numeric_scan_sec": hw_end["numeric_scan_sec"],
            }
            if "text_scan_sec" in hw_start and "text_scan_sec" in hw_end
            else {"skipped": True}
        ),
        "detail_file": "BENCH_DETAIL.json",
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
