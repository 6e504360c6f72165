"""Span recorders and counters for the traced run (``--trace 1``).

Spans are recorded around the public entry points of each layer by
replacing those attributes on their classes or modules for the life of the
run; nothing inside the program is edited. Spans are kept in memory and
turned into per-layer metrics when the run ends. Spark job, stage and task
counts are read per ``apply_batch`` call from the driver's scheduler and
status tracker, so they cover every job group: streaming micro-batches run
in the query's group and the engine's pool threads in none.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

now = time.perf_counter


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.calls: dict[str, int] = {}
        self.batches: list[dict] = []  # one record per traced apply_batch
        self.overhead_s = 0.0  # time spent in this tracer's own bookkeeping
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    # ---------- installing ----------

    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def span(self, owner, attr: str, name: str, path_of=None) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``.
        ``path_of(args)`` names the table a call acts on."""
        fn = owner.__dict__[attr]

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            t0 = now()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = now()
                rec = {"name": name, "t0": t0, "t1": t1, "thread": threading.get_ident()}
                if path_of is not None:
                    rec["path"] = path_of(args)
                with self._lock:
                    self.spans.append(rec)
                    self.overhead_s += now() - t1

        self._patch(owner, attr, wrapped)

    def count(self, owner, attr: str, name: str) -> None:
        fn = owner.__dict__[attr]

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self._lock:
                self.calls[name] = self.calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        self._patch(owner, attr, wrapped)

    def batch(self, owner, attr: str) -> None:
        """``apply_batch``: a span plus scheduler counters read just outside
        it, so their cost stays out of the span."""
        fn = owner.__dict__[attr]

        @functools.wraps(fn)
        def wrapped(engine, events, batch_id):
            before = dict(engine.timings)
            c0 = self._counters()
            t0 = now()
            m = fn(engine, events, batch_id)
            t1 = now()
            c1 = self._counters()
            phases = {k: v - before.get(k, 0.0) for k, v in engine.timings.items()}
            with self._lock:
                self.batches.append(
                    {"batch_id": batch_id, "t0": t0, "t1": t1, "c0": c0, "c1": c1,
                     "metrics": m, "phases": phases}
                )
                self.overhead_s += now() - t1 + (t0 - c0["at"])
            return m

        self._patch(owner, attr, wrapped)

    def _counters(self) -> dict:
        with self._lock:
            meta = sum(self.calls.values())
        return {
            "at": now(),
            "jobs": self._dag.numTotalJobs(),
            "codegen": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "meta": meta,
        }

    def install(self) -> None:
        from file_standardization_etl_spark.cdc import aggregates, apply
        from file_standardization_etl_spark.lake import table
        from file_standardization_etl_spark.streaming import runner

        lake, vocab = table.LakeTable, aggregates.TokenVocab
        path = lambda args: args[0].path  # noqa: E731
        self.span(runner.StreamingCdcRunner, "run_available_now", "runner.drain")
        self.batch(apply.CdcEngine, "apply_batch")
        for attr in ("merge", "read", "changes"):
            self.span(lake, attr, f"lake.{attr}", path_of=path)
        for attr in ("snapshot", "properties", "current_version"):
            self.count(lake, attr, f"lake.{attr}")
        self.span(vocab, "stage_delta", "vocab.stage")
        self.span(vocab, "maybe_fold", "vocab.fold")
        self.span(vocab, "counts", "vocab.read")
        # the engine calls the validation layer's reason pass through its
        # own module namespace; the span covers planning only, and the
        # finalize's end is read from its output files (see finalize_spans)
        self.span(apply, "with_reason", "validation.with_reason")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # ---------- reading ----------

    def between(self, name: str, t0: float, t1: float, path_suffix: str | None = None):
        return [
            s for s in self.spans
            if s["name"] == name and s["t0"] >= t0 and s["t1"] <= t1
            and (path_suffix is None or s.get("path", "").endswith(path_suffix))
        ]

    def task_counts(self, jobs_lo: int, jobs_hi: int) -> tuple[int, int]:
        """(stages that ran tasks, tasks completed) over job ids
        ``[jobs_lo, jobs_hi)``, read from the status tracker once the
        listener bus has caught up."""
        self._bus.waitUntilEmpty()
        st = self.spark.sparkContext.statusTracker()
        stages: set[int] = set()
        for j in range(jobs_lo, jobs_hi):
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += info.numCompletedTasks
        return n_stages, n_tasks


def covered(t0: float, t1: float, spans: list[dict]) -> float:
    """Length of ``[t0, t1]`` covered by the union of ``spans``."""
    ivs = sorted((max(t0, s["t0"]), min(t1, s["t1"])) for s in spans)
    total, end = 0.0, t0
    for a, b in ivs:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def finalize_spans(tracer: Tracer, quarantine_path: str, batches: list[dict]) -> list[float]:
    """Quarantine-finalize durations of ``batches``: from the reason pass's
    call (a pool thread) to the commit of its output, whose ``_SUCCESS``
    marker lands in ``quarantine/batch_id=B/chunk=C`` after the rename."""
    out = []
    wall0 = time.time() - now()  # perf_counter -> wall clock offset
    for b in batches:
        starts = [s["t0"] for s in tracer.between("validation.with_reason", b["t0"], b["t1"])]
        d = os.path.join(quarantine_path, f"batch_id={b['batch_id']}")
        ends = []
        if os.path.isdir(d):
            for c in os.listdir(d):
                marker = os.path.join(d, c, "_SUCCESS")
                if os.path.exists(marker):
                    ends.append(os.stat(marker).st_mtime - wall0)
        if starts and ends:
            out.append(max(ends) - min(starts))
    return out


# ---------- lake metadata (read from snapshot files, never from data) ----------


def _files(table_path: str, snap: dict) -> dict:
    if "files" in snap:
        return snap["files"]
    out: dict = {}
    for c in snap.get("manifest_list", []):
        with open(os.path.join(table_path, "_meta", "manifests", c["file"])) as f:
            out.update(json.load(f))
    return out


def lake_stats(table, v_lo: int, v_hi: int) -> dict:
    """Commits ``v_lo+1 .. v_hi`` of ``table``: bytes and parquet files they
    wrote, deepest merge-on-read stack, and how many folded a stack back
    into base files (copy-on-write)."""
    prev = _files(table.path, table.snapshot(v_lo))
    seen = {e.get("path") for e in prev.values()} | {
        d["path"] for e in prev.values() for d in e.get("deltas", [])
    }
    nbytes = nfiles = depth = folds = 0
    for v in range(v_lo + 1, v_hi + 1):
        cur = _files(table.path, table.snapshot(v))
        folded = False
        for b, e in cur.items():
            depth = max(depth, len(e.get("deltas", [])))
            old = prev.get(b, {})
            if old.get("deltas") and e.get("path") != old.get("path"):
                folded = True
            items = [(e.get("path"), e.get("bytes", 0))] + [
                (d["path"], d.get("bytes", 0)) for d in e.get("deltas", [])
            ]
            for p, size in items:
                if p and p not in seen:
                    seen.add(p)
                    nbytes += size
                    nfiles += sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
        folds += folded
        prev = cur
    return {"bytes": nbytes, "files": nfiles, "depth": depth, "folds": folds}
