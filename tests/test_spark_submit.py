"""Deployment-shape test: the north rule's exact invocation —
``spark-submit --py-files dist/engine.zip jobs/run_cdc.py`` — executed as a
real subprocess from a scratch working directory, so the engine package can
only arrive via ``--py-files`` (not via an importable repo checkout).

This is the piece the in-process streaming tests cannot prove: that the
packaged zip is self-contained (no repo-relative imports, no data files
outside the zip) and that the job entrypoint drives a full drain whose final
table state matches the dict-replay oracle bitwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import EventGenConfig, events_df, generate_events
from file_standardization_etl_spark.cdc.oracle import replay

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Prefer the pip-installed pyspark's own launcher so the subprocess runs the
# same Spark version as the test session; fall back to PATH.
_PYSPARK_SUBMIT = os.path.join(
    os.path.dirname(os.path.abspath(__import__("pyspark").__file__)), "bin", "spark-submit"
)
SPARK_SUBMIT = _PYSPARK_SUBMIT if os.path.exists(_PYSPARK_SUBMIT) else shutil.which("spark-submit")


def _last_report(stdout: str) -> dict:
    """The report is the LAST JSON object on stdout (indent=1, multi-line):
    parse from the last line-initial '{' so an earlier brace-bearing log
    line cannot corrupt the parse, or from the first '{' when the report
    starts at byte 0."""
    nl = stdout.rfind("\n{")
    start = nl + 1 if nl >= 0 else stdout.index("{")
    return json.loads(stdout[start : stdout.rindex("}") + 1])


def _state_dict(engine):
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"], r["last_lsn"])
        for r in engine.state().collect()
    }


def _oracle_dict(oracle):
    return {
        k: (list(v["tokens"]), v["n_tok"], v["source"], v["last_lsn"])
        for k, v in oracle.live_docs().items()
    }


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit launcher not found")
def test_spark_submit_py_files_replay_matches_oracle(spark, tmp_path):
    # 1. Deterministic WAL + expected final state, computed in-process.
    cfg = EventGenConfig(n_events=3000, n_docs=200, seed=77)
    events = generate_events(cfg)
    log_dir = tmp_path / "wal"
    events_df(spark, events[:1500]).coalesce(1).write.mode("append").parquet(str(log_dir))
    events_df(spark, events[1500:]).coalesce(1).write.mode("append").parquet(str(log_dir))
    expected = _oracle_dict(replay(events))

    # 2. Package the engine zip exactly as a cluster deploy would.
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "package.py")],
        capture_output=True, text=True, check=True,
    )
    zip_path = out.stdout.strip().splitlines()[-1]
    assert zip_path.endswith("engine.zip") and os.path.exists(zip_path)

    # 3. Scratch cwd holding ONLY the job script — the package directory is
    #    not importable from here, so a repo-relative import would fail loudly.
    scratch = tmp_path / "deploy"
    scratch.mkdir()
    shutil.copy(os.path.join(ROOT, "jobs", "run_cdc.py"), scratch / "run_cdc.py")
    shutil.copy(zip_path, scratch / "engine.zip")

    table_dir = tmp_path / "lake"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # nothing importable but the --py-files zip
    env["SPARK_MASTER"] = "local[4]"
    env["SPARK_DRIVER_MEMORY"] = "2g"
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", "engine.zip",
            "run_cdc.py",
            "--log-dir", str(log_dir),
            "--table-dir", str(table_dir),
        ],
        cwd=str(scratch), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"

    # 4. The job prints one JSON summary line on drain.
    summary = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and "applied_lsn" in line:
            summary = json.loads(line)
    assert summary is not None, f"no summary line in stdout:\n{proc.stdout[-2000:]}"
    assert summary["applied_lsn"] == cfg.lsn_start + cfg.n_events - 1
    assert summary["live_docs"] == len(expected)

    # 5. Bitwise final-state equality, read back in-process.
    engine = CdcEngine(spark, str(table_dir))
    engine.init()  # attach to the existing table (idempotent)
    assert _state_dict(engine) == expected
    oracle = replay(events)
    assert engine.quarantine().count() == len(oracle.quarantine)

    # 6. Corrective maintenance in the same deployment shape: seed
    #    cross-doc duplicated token spans, then run
    #    `spark-submit --py-files engine.zip maintain.py --dedup-correct 4`
    #    and check the rewrite landed through the merge.
    wm = engine.applied_lsn()
    boiler = [3, 5, 7, 9]
    extra = [
        {
            "lsn": wm + 1 + j, "op": "insert", "doc_id": f"dup{j}",
            "tokens": [400 + j] + boiler + [500 + j], "n_tok": 6,
            "source": "web", "schema_change": None, "ts": None,
        }
        for j in range(3)
    ]
    engine.apply_batch(events_df(spark, extra), batch_id=999)
    shutil.copy(os.path.join(ROOT, "jobs", "maintain.py"), scratch / "maintain.py")
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", "engine.zip",
            "maintain.py",
            "--table-dir", str(table_dir),
            "--dedup-correct", "4",
            "--corrective-wal-dir", str(tmp_path / "corrective_wal"),
        ],
        cwd=str(scratch), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, f"maintain failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
    report = _last_report(proc.stdout)
    assert report["dedup_correct"]["rows_in"] == 2  # dup1, dup2 (dup0 keeps)
    assert report["dedup_correct"]["rows_deletes"] == 0
    eng2 = CdcEngine(spark, str(table_dir))
    eng2.init()
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in eng2.state().collect()
        if r["doc_id"].startswith("dup")
    }
    assert got == {
        "dup0": [400, 3, 5, 7, 9, 500],  # keeper untouched
        "dup1": [401, 501],
        "dup2": [402, 502],
    }
    # the durable corrective segment exists (resume-able evidence)
    assert os.path.isdir(str(tmp_path / "corrective_wal"))

    # 7. Repeatability: a second pass finds nothing (writes an empty
    #    segment at the advanced watermark) and a third pass RESUMES that
    #    existing segment instead of dying on mode=error — the regression
    #    where routine periodic runs permanently failed once a segment
    #    existed at the current watermark.
    for expect_resumed in (False, True):
        proc = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[4]",
                "--py-files", "engine.zip",
                "maintain.py",
                "--table-dir", str(table_dir),
                "--dedup-correct", "4",
                "--corrective-wal-dir", str(tmp_path / "corrective_wal"),
            ],
            cwd=str(scratch), env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, (
            f"repeat maintain failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
        )
        rep = _last_report(proc.stdout)
        assert rep["dedup_correct"]["rows_in"] == 0
        assert rep["dedup_correct"]["resumed_existing_segment"] is expect_resumed
