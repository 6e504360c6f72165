"""The workloads. Each drives the same engine surface, so every metric is
measured on every workload; they differ in which part of it the timed
phase stresses.

Both are closed loops with one client: each operation starts when the
previous one has returned, like a single ingester that waits for every
commit. Each run:

1. lands all inputs as parquet (not timed, not part of set-up);
2. sets up once: seeds the measured table and warms up through the timed
   phase's ingest path (not repeated: session start and the first pass in
   a fresh JVM are most of set-up, and neither repeats in one process);
3. runs the timed phase, sized by ``--seconds``;
4. reads the table the way a downstream consumer would (changefeed, vocab
   top-k, full scan; during the timed phase on serve, after it on replay)
   and runs one dedup-correct pass;
5. checks the outputs against an independent reference (not timed).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
from tracing import Tracer, covered, finalize_spans, lake_stats

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import EVENT_SCHEMA
from file_standardization_etl_spark.streaming.runner import StreamingCdcRunner

now = time.perf_counter
READ_ROUNDS = 3  # consumer read rounds after the replay drain, the first untimed
TOPK = 100
DEDUP_DETECTS = 3  # detect-rewrite passes per dedup-correct, the median timed


def _rows(path: str) -> int:
    """Rows in a parquet file or directory, from footers only."""
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Run:
    """One benchmark run: inputs, the measured engine and what was seen."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.spans = inputs.boilerplate(self.rng)
        self.applied: list[str] = []  # event files the measured table consumed
        self.snapshot: str | None = None  # bootstrap snapshot, if seeded
        self.samples: dict[str, list[float]] = {}
        self.client_spans: list[dict] = []  # the reader's operations
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {"phase_s": {}}
        self.cpu0: list[int] = []  # host CPU counters as the measured part starts
        self.batch_id = 0
        self.vocab = False  # does the measured engine maintain the vocab?
        self._mark = now()

    def mark(self, phase: str) -> None:
        """Attribute the wall time since the previous mark to ``phase``."""
        t = now()
        self.notes["phase_s"][phase] = t - self._mark
        self._mark = t

    # ---------- inputs ----------

    def land_events(self, name: str, n_files: int, per_file: int, lsn0: int, n_docs: int,
                    boiler_frac: float) -> list[str]:
        paths = []
        for i in range(n_files):
            t = inputs.events(self.rng, self.spans, lsn0 + i * per_file, per_file, n_docs,
                              boiler_frac)
            # one second apart: the stream source orders a WAL by mtime
            paths.append(inputs.write(t, os.path.join(self.work, name, f"seg-{i:04d}.parquet"),
                                      mtime=1_000_000_000 + i))
        return paths

    def land_snapshot(self, n_docs: int, boiler_frac: float) -> str:
        t = inputs.snapshot(self.rng, self.spans, n_docs, boiler_frac)
        self.snapshot = inputs.write(t, os.path.join(self.work, "snapshot", "part-0.parquet"))
        return self.snapshot

    def read_events(self, path: str):
        return self.spark.read.schema(EVENT_SCHEMA).parquet(path)

    # ---------- engine operations ----------

    def engine(self, name: str, n_buckets: int) -> CdcEngine:
        e = CdcEngine(self.spark, os.path.join(self.work, name), n_buckets=n_buckets,
                      maintain_vocab=self.vocab)
        e.init()
        return e

    def apply(self, engine: CdcEngine, path: str) -> float:
        """Apply one pre-landed batch; returns call-to-return seconds."""
        self.batch_id += 1
        df = self.read_events(path)
        t0 = now()
        m = engine.apply_batch(df, batch_id=self.batch_id)
        dt = now() - t0
        self.attempted += 1
        if m.rows_in != _rows(path):
            self.failed += 1
        return dt

    def read_round(self, engine: CdcEngine, v_prev: int, v_now: int,
                   record: bool = True) -> None:
        """A downstream consumer: the changelog of commit ``v_now``, the vocab
        top-k and the full live state a training loader would read. The
        first round in a process compiles; ``record=False`` leaves it out."""
        ops = [("changefeed_s", lambda: engine.changes(v_prev, v_now)
                .write.format("noop").mode("overwrite").save()),
               ("vocab_read_s", lambda: self.vocab_counts(engine)
                .orderBy(F.desc("n_occ"), "token").limit(TOPK).collect()),
               ("read_state_s", lambda: engine.state()
                .agg(F.count(F.lit(1)), F.sum(F.size("tokens"))).collect())]
        for name, op in ops:
            t0 = now()
            op()
            t1 = now()
            if record:
                self.attempted += 1
                self.samples.setdefault(name, []).append(t1 - t0)
                self.client_spans.append({"name": name, "t0": t0, "t1": t1})

    def vocab_counts(self, engine: CdcEngine):
        """(token, n_occ): the maintained aggregate where the engine keeps
        one, else a recount over the live state (what a consumer of an
        engine without it has to run)."""
        if self.vocab:
            return engine.vocab()
        return (engine.state().select(F.explode("tokens").alias("token"))
                .groupBy("token").agg(F.count(F.lit(1)).alias("n_occ")))

    def detect_rewrite(self, engine: CdcEngine, seg: str) -> float:
        """Detect duplicated 8-token spans and write the corrective segment
        to ``seg``; returns seconds."""
        t0 = now()
        engine.dedup_correct_events(8).write.mode("overwrite").parquet(seg)
        return now() - t0

    def dedup(self, engine: CdcEngine) -> None:
        """Detect, rewrite, re-ingest the segment through ``apply_batch``.
        Detection and rewrite only read the table, so they run
        ``DEDUP_DETECTS`` times over the same segment; the first compiles
        (a one-off maintenance pass would pay that too, but it is most of
        the noise between runs) and the median enters the pass's time."""
        seg = os.path.join(self.work, "dedup-segment")
        detect = [self.detect_rewrite(engine, seg) for _ in range(DEDUP_DETECTS)]
        reingest = self.apply(engine, seg)
        self.samples["dedup_correct_s"] = [statistics.median(detect) + reingest]
        self.notes["dedup"] = {
            "detect_rewrite_s": detect,
            "reingest_s": reingest,
            "rows": _rows(seg),
        }
        self.applied.append(seg)

    # ---------- set-up ----------

    def timed(self, name: str, fn):
        """``fn()``, with its wall time recorded as ``notes[name]``."""
        t0 = now()
        out = fn()
        self.notes[name] = now() - t0
        return out

    def window_start(self, wal: list[str]) -> None:
        """Evidence of how busy the host is as the measured part starts."""
        self.notes["window_scan_start_s"] = checks.bare_scan(self.spark, wal, EVENT_SCHEMA)
        self.cpu0 = checks.host_cpu()

    # ---------- end of run ----------

    def finish(self, engine: CdcEngine, timed: tuple[float, float],
               versions: tuple[int, int]) -> dict:
        """Evidence, checks, and the end-to-end numbers every workload has."""
        wal = [p for p in self.applied if p.endswith(".parquet")]
        self.notes["window_scan_end_s"] = checks.bare_scan(self.spark, wal, EVENT_SCHEMA)
        self.notes["cpu_steal_share"] = checks.steal_share(self.cpu0, checks.host_cpu())

        events = self.spark.read.schema(EVENT_SCHEMA).parquet(*self.applied).select(
            "lsn", "op", "doc_id", "tokens", "n_tok", "source"
        )
        if self.snapshot is not None:
            events = events.unionByName(
                self.spark.read.parquet(self.snapshot).select(
                    "lsn", F.lit("insert").alias("op"), "doc_id", "tokens", "n_tok", "source"
                )
            )
        expected, expected_q = checks.reference(events)
        bad_rows, live = checks.check_state(engine, expected)
        bad_q = checks.check_quarantine(engine, expected_q)
        bad_vocab = checks.check_vocab(engine) if self.vocab else 0
        self.notes["checks"] = {"state_rows_differing": bad_rows, "quarantine_reasons_differing": bad_q,
                                "vocab_tokens_differing": bad_vocab, "live_docs": live}
        self.attempted += 2 + self.vocab
        self.failed += (bad_rows > 0) + bool(bad_q) + (bad_vocab > 0)

        head = engine.table.history()[-1]
        jvm = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{jvm}/status") as f:
            hwm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        s = self.samples
        out = {
            "lake.read_state_p50_s": statistics.median(s["read_state_s"]),
            "lake.changefeed_p50_s": statistics.median(s["changefeed_s"]),
            "vocab.read_p50_s": statistics.median(s["vocab_read_s"]),
            "dedup_correct_s": s["dedup_correct_s"][0],
            "lake_bytes_per_live_doc": head["bytes"] / max(live, 1),
        }
        self.notes["jvm_peak_rss_mb"] = hwm_kb / 1024.0
        self.notes["read_samples_s"] = self.samples
        if self.tracer is not None:
            out.update(self.layers(engine, timed, versions))
        return out

    def layers(self, engine: CdcEngine, timed: tuple[float, float],
               versions: tuple[int, int]) -> dict:
        """Per-layer metrics over the timed phase: its wall ``timed`` and
        the table versions it committed, ``versions`` (exclusive, inclusive]."""
        tr = self.tracer
        t0, t1 = timed
        batches = [b for b in tr.batches if b["t0"] >= t0 and b["t1"] <= t1]
        n = len(batches)
        target = "/lake/target"  # the measured table, not the warm-up one

        def per_batch(x: float) -> float:
            return x / n

        child = [s for s in tr.spans if s["name"].startswith(("lake.", "vocab."))]
        apply_spans = [{"t0": b["t0"], "t1": b["t1"]} for b in batches]
        phases: dict[str, float] = {}
        for b in batches:
            for k, v in b["phases"].items():
                phases[k] = phases.get(k, 0.0) + v
        batch_s = sum(b["t1"] - b["t0"] for b in batches)
        # vocab_stage runs on a pool thread beside the merge; the rest are
        # the engine's sequential phases
        sequential = sum(v for k, v in phases.items() if k != "vocab_stage")
        stages = tasks = 0
        for b in batches:
            st, tk = tr.task_counts(b["c0"]["jobs"], b["c1"]["jobs"])
            stages += st
            tasks += tk
        ms = [b["metrics"] for b in batches]
        rows_in = sum(m.rows_in for m in ms)
        v_lo, v_hi = versions
        lake = lake_stats(engine.table, v_lo, v_hi)
        fin = finalize_spans(tr, engine.quarantine_path, batches)
        def in_batches(name, suffix=None):
            return [s for b in batches for s in tr.between(name, b["t0"], b["t1"], suffix)]

        def walls(name, suffix=None, lo=0.0, hi=float("inf")):
            return [s["t1"] - s["t0"] for s in tr.between(name, lo, hi, suffix)]

        consumer_vocab = [s for s in self.client_spans if s["name"] == "vocab_read_s"]
        served = sum(sum(walls("vocab.read", None, s["t0"], s["t1"])) for s in consumer_vocab)
        dd = self.notes["dedup"]
        runner_self = (t1 - t0) - covered(t0, t1, apply_spans + self.client_spans)
        return {
            "session.start_s": self.notes["session_start_s"],
            "session.warmup_s": self.notes["warmup_s"],
            "session.jvm_peak_rss_mb": self.notes["jvm_peak_rss_mb"],
            "runner.batches": n,
            "runner.self_s_per_batch": per_batch(runner_self),
            "apply.batch_s": per_batch(batch_s),
            "apply.self_s": per_batch(sum(
                (b["t1"] - b["t0"]) - covered(b["t0"], b["t1"], child) for b in batches)),
            **{f"apply.{k}_s": per_batch(phases.get(k, 0.0)) for k in (
                "lineage_join", "lww_and_stats", "routed_write", "merge", "quarantine_join")},
            "apply.phase_coverage": sequential / batch_s,
            "apply.spark_jobs_per_batch": per_batch(
                sum(b["c1"]["jobs"] - b["c0"]["jobs"] for b in batches)),
            "apply.spark_stages_per_batch": per_batch(stages),
            "apply.spark_tasks_per_batch": per_batch(tasks),
            "apply.codegen_compiles_per_batch": per_batch(
                sum(b["c1"]["codegen"] - b["c0"]["codegen"] for b in batches)),
            "apply.winner_frac": sum(m.rows_valid for m in ms) / rows_in,
            "apply.quarantine_frac": sum(m.rows_quarantined for m in ms) / rows_in,
            "apply.max_key_rows": max(m.max_key_rows for m in ms),
            "lake.merge_s": per_batch(sum(
                s["t1"] - s["t0"] for s in in_batches("lake.merge", target))),
            "lake.read_s": statistics.median(walls("lake.read", target)),
            "lake.changes_s": statistics.median(walls("lake.changes", target)),
            "lake.metadata_reads_per_batch": per_batch(
                sum(b["c1"]["meta"] - b["c0"]["meta"] for b in batches)),
            "lake.commits_per_batch": per_batch(v_hi - v_lo),
            "lake.bytes_written_per_batch": per_batch(lake["bytes"]),
            "lake.files_written_per_batch": per_batch(lake["files"]),
            "lake.mor_stack_depth_max": lake["depth"],
            "lake.cow_folds": lake["folds"],
            "validation.finalize_s": statistics.mean(fin),
            "validation.rows_reasoned": sum(m.rows_quarantined for m in ms),
            # shares, not seconds: the replay engine keeps no vocab, so
            # there they are 0 by construction
            "vocab.stage_share": sum(s["t1"] - s["t0"] for s in in_batches("vocab.stage")) / batch_s,
            "vocab.fold_share": sum(s["t1"] - s["t0"] for s in in_batches("vocab.fold")) / batch_s,
            "vocab.read_share": served / sum(s["t1"] - s["t0"] for s in consumer_vocab),
            "vocab.folds": len(in_batches("lake.merge", "/vocab")),
            "dedup.detect_rewrite_s": statistics.median(dd["detect_rewrite_s"]),
            "dedup.rows_rewritten": dd["rows"],
            "dedup.reingest_s": dd["reingest_s"],
            "trace.overhead_s": tr.overhead_s,
        }


# ---------- workloads ----------


def _scaled(base: int, seconds: int) -> int:
    """Timed-phase size for ``seconds``, in proportion to ``base`` at the
    10 s the sizes were chosen for."""
    return max(2, round(base * seconds / 10))


def replay_backlog(run: Run) -> dict:
    """Drain a pre-landed WAL of big segments into a fresh 64-bucket table
    with ``StreamingCdcRunner.run_available_now``, one segment per
    micro-batch: the per-event path dominates and nothing reads meanwhile."""
    n_seg, per_seg = _scaled(3, run.seconds), 40_000
    n_docs = n_seg * per_seg // 100
    # few boilerplate spans: the dedup pass has little to rewrite here
    warm = run.land_events("warm-wal", 2, 2_000, 1, 1_000, boiler_frac=0.02)
    run.applied = run.land_events("wal", n_seg, per_seg, 1, n_docs, boiler_frac=0.02)
    run.mark("inputs")

    def warm_up():
        # on a scratch table: the measured drain starts from a fresh one
        e = run.engine("warm", 64)
        StreamingCdcRunner(run.spark, os.path.dirname(warm[0]), e,
                           max_files_per_trigger=1).run_available_now()

    run.timed("warmup_s", warm_up)
    engine = run.timed("seed_s", lambda: run.engine("lake", 64))
    run.mark("setup")
    run.window_start(run.applied)

    runner = StreamingCdcRunner(run.spark, os.path.dirname(run.applied[0]), engine,
                                max_files_per_trigger=1)
    v_lo = engine.table.current_version()
    w0, t0 = time.time(), now()
    runner.run_available_now()
    t1 = now()
    v_hi = engine.table.current_version()
    run.attempted += runner.batches_total
    if engine.applied_lsn() != n_seg * per_seg:
        run.failed += 1
    # per-batch commit latency from the engine's own manifests: each is
    # written as its batch returns, so consecutive mtimes bound one batch
    done = sorted(os.stat(os.path.join(engine.manifest_dir, f)).st_mtime
                  for f in os.listdir(engine.manifest_dir) if f.endswith(".json"))
    lat = np.diff([w0] + done).tolist()
    run.batch_id = runner.batches_total
    run.mark("timed")
    _reads_after(run, engine)
    run.mark("reads")
    run.dedup(engine)
    run.mark("dedup")
    out = run.finish(engine, (t0, t1), (v_lo, v_hi))
    run.mark("checks")
    out.update(_ingest(run, n_seg * per_seg, t1 - t0, lat))
    return out


def _reads_after(run: Run, engine: CdcEngine) -> None:
    """Consumer reads of the last commit, after an ingest that had none.
    Every round reads the same, so the first, which compiles, is left out
    rather than competing for the median."""
    v = engine.table.current_version()
    for i in range(READ_ROUNDS):
        run.read_round(engine, v - 1, v, record=i > 0)


def _ingest(run: Run, events: int, wall: float, lat: list[float]) -> dict:
    run.notes["batch_s"] = lat
    out = {
        "events_per_s": events / wall,
        "batch_p50_s": pct(lat, 0.5),
        "batch_p75_s": pct(lat, 0.75),
    }
    if run.tracer is not None:
        out["trace.batch_p50_s"] = out["batch_p50_s"]
    return out


def serve_while_ingest(run: Run) -> dict:
    """Back-to-back micro-batches through ``apply_batch`` on a
    bootstrap-seeded 16-bucket table that maintains the token vocabulary,
    over a corpus whose docs share boilerplate spans. After every commit a
    reader takes that commit's changelog, the vocab top-k and a full scan
    of the live state the way a training loader would; one dedup-correct
    pass ends the run, and a second one must find nothing. The fixed cost
    per micro-batch dominates each commit; the vocab engine folds its
    merge-on-read stacks back by copy-on-write at depth 3, so the last
    timed batch carries a fold into the tail percentile, and deeper stacks
    show up as slower reads."""
    n_docs, per_batch, n_timed = 10_000, 2_500, _scaled(3, run.seconds)
    run.vocab = True
    boiler_frac = 0.25  # shared spans for the dedup pass and the vocab
    run.land_snapshot(n_docs, boiler_frac)
    warm, *paths = run.land_events("batches", 1 + n_timed, per_batch, n_docs + 1, n_docs,
                                   boiler_frac)
    run.applied = [warm, *paths]
    run.mark("inputs")

    def seed():
        e = run.engine("lake", 16)
        run.batch_id = 1
        e.bootstrap(run.spark.read.parquet(run.snapshot)
                    .select("doc_id", "tokens", "n_tok", "source", "lsn"),
                    as_of_lsn=n_docs, batch_id=run.batch_id)
        return e

    engine = run.timed("seed_s", seed)
    # the warm-up batch goes to the measured table: it leaves merge-on-read
    # stacks of depth 1, the next two timed batches deepen them to 3 and
    # the third folds them
    run.timed("warmup_s", lambda: run.apply(engine, warm))
    run.mark("setup")
    run.window_start(paths)

    v_lo = engine.table.current_version()
    lat = []
    t0 = now()
    for p in paths:
        v = engine.table.current_version()
        lat.append(run.apply(engine, p))
        run.read_round(engine, v, engine.table.current_version())
    t1 = now()
    v_hi = engine.table.current_version()
    run.mark("timed")
    run.dedup(engine)
    run.mark("dedup")
    run.attempted += 1
    check = os.path.join(run.work, "dedup-check")
    run.detect_rewrite(engine, check)
    run.failed += _rows(check) != 0
    run.mark("dedup_check")
    out = run.finish(engine, (t0, t1), (v_lo, v_hi))
    run.mark("checks")
    out.update(_ingest(run, n_timed * per_batch, sum(lat), lat))
    return out


WORKLOADS = {f.__name__: f for f in (replay_backlog, serve_while_ingest)}
