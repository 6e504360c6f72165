"""Readers/writers for the reference's source formats (SURVEY.md §2.1).

| ref | this module | notes |
|-----|-------------|-------|
| S1 Excel scan (`src/etl/extractors.py:22-46`) | :func:`read_excel` | no JVM excel reader; pandas bridge behind import-try (openpyxl absent in sandbox → clear error) |
| S2 CSV scan (`src/etl/extractors.py:48-69`) | :func:`read_csv` | native `spark.read.csv`, explicit schema (no inferSchema in prod) |
| S3 Parquet (`src/utils/s3_utils.py:41-44`) | :func:`read_parquet` | native |
| S9 fixed-width parse (`repomix-output.xml:8377-8411`) | :func:`read_fixed_width` | `spark.read.text` + per-colspec substring — pure column exprs, no UDF |
| S10 file discovery (`src/utils/s3_utils.py:68-85`) | :func:`list_files` | driver-side listing; streaming discovery is the file-stream source |
| S4/S5 JDBC (`src/database/connection.py:47-93`) | :func:`read_jdbc` / :func:`write_jdbc` | thin wrappers; untested here (no DB in sandbox) |

JSON-lines is included for completeness (modern log pipelines).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    r = spark.read.options(header=str(header).lower(), **{k: str(v) for k, v in options.items()})
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")  # tests/ad-hoc only
    return r.csv(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def _pandas_excel_loader(path: str, sheet_name, **kwargs):
    """Default frame loader: the reference's exact read call —
    ``header=None, dtype=str, keep_default_na=False``
    (`repomix-output.xml:7266-7273`, `src/etl/extractors.py:22-46`).
    Without openpyxl, .xlsx files fall back to the stdlib SpreadsheetML
    reader (`xlsx_minimal.py` — same grid contract, asserted equivalent
    in tests when openpyxl exists), so the production path still executes
    on real workbooks; only legacy .xls genuinely needs the engine."""
    try:
        import pandas as pd

        return pd.read_excel(
            path, sheet_name=sheet_name, header=None, dtype=str,
            keep_default_na=False, **kwargs
        )
    except ImportError as e:  # openpyxl/xlrd not in this environment
        if path.lower().endswith(".xlsx"):
            from .xlsx_minimal import stdlib_xlsx_loader

            return stdlib_xlsx_loader(path, sheet_name, **kwargs)
        raise NotImplementedError(
            "legacy .xls ingest needs pandas+xlrd on the edge node; not available here"
        ) from e


def read_excel(
    spark: SparkSession, path: str, sheet_name=0, frame_loader=None, **kwargs
) -> DataFrame:
    """Excel bridge (S1). Spark has no native xlsx reader; the reference
    read sheets into pandas on the driver — same here, but only as an
    edge ingest step, converting immediately to a distributed DataFrame
    of the reference's positional string grid (columns renumbered 1..N,
    `repomix-output.xml:7410-7412`). ``frame_loader`` injects the sheet
    source (tests use a fixture frame; production uses the pandas/openpyxl
    loader), so the grid→typed pipeline is testable without excel libs.
    """
    loader = frame_loader or _pandas_excel_loader
    pdf = loader(path, sheet_name, **kwargs)
    pdf.columns = [f"c{i + 1}" for i in range(len(pdf.columns))]
    # stringify BEFORE null-masking: the reverse order would turn NaN into
    # the literal string 'None' (astype(str) stringifies the sentinel)
    return spark.createDataFrame(pdf.astype(str).where(pdf.notna(), None))


def _grid_blank(c: str):
    """A cell the reference treats as empty: '', 'nan', 'nat' after strip,
    case-insensitive (`repomix-output.xml:7300-7305`)."""
    return F.col(c).isNull() | F.lower(F.trim(F.col(c))).isin("", "nan", "nat")


def grid_standardize(df: DataFrame, structure: str = "TABULAR") -> DataFrame:
    """The reference's raw-grid standardization
    (`repomix-output.xml:7290-7412`), Spark-first:

    - TABULAR: drop all-empty columns (P3: one narrow aggregate computes
      per-column non-blank counts; the drop itself is a driver-side
      schema decision, like any DDL), then drop empty rows (P4: the
      reference's exact semantics — concatenate the row, lowercase,
      strip 'nan'/'nat'/' ' substrings, drop if the residue is empty;
      faithfully including the quirk that literal 'nan' inside real
      content is also stripped before the emptiness test).
    - POSITION/CUSTOM POSITION/CUSTOMRAFED: pass through untouched
      (`repomix-output.xml:7324-7327`).
    - Both: renumber columns to the 1-based positional names c1..cN
      (`repomix-output.xml:7410-7412`).

    The aggregate is a single scan; at 100 TB the decision row is one
    collect of ~N_cols longs — no payload ever reaches the driver.
    """
    cols = df.columns
    if structure == "TABULAR":
        counts = df.agg(
            *[F.sum(F.when(~_grid_blank(c), 1).otherwise(0)).alias(c) for c in cols]
        ).collect()[0]
        keep = [c for c in cols if (counts[c] or 0) > 0]
        df = df.select(*keep)
        concat = F.lower(
            F.concat_ws("", *[F.coalesce(F.col(c), F.lit("")) for c in keep])
        )
        residue = F.replace(
            F.replace(F.replace(concat, F.lit("nan"), F.lit("")), F.lit("nat"), F.lit("")),
            F.lit(" "), F.lit(""),
        )
        df = df.filter(residue != "")
    return df.toDF(*[f"c{i + 1}" for i in range(len(df.columns))])


def read_fixed_width(
    spark: SparkSession, path: str, colspecs: list[tuple[str, int, int, str]]
) -> DataFrame:
    """Fixed-width text reader (S9): colspecs = [(name, start_1based, length,
    type_ddl)]. Substring extraction per column — whole-stage codegen, no
    UDF (the reference used a 21-group regex in driver pandas)."""
    lines = spark.read.text(path)
    cols = []
    for name, start, length, ddl in colspecs:
        c = F.trim(F.substring(F.col("value"), start, length))
        if ddl != "string":
            c = c.cast(ddl)
        cols.append(c.alias(name))
    return lines.select(*cols)


def write_fixed_width(df: DataFrame, colspecs: list[tuple[str, int, int, str]]) -> DataFrame:
    """Inverse of read_fixed_width: produce a single `value` column with
    each field padded into its byte range (numeric left-zero-padded,
    strings right-space-padded)."""
    parts = []
    for name, _start, length, ddl in colspecs:
        if ddl == "string":
            parts.append(F.rpad(F.coalesce(F.col(name), F.lit("")), length, " "))
        else:
            parts.append(F.lpad(F.col(name).cast("string"), length, "0"))
    return df.select(F.concat(*parts).alias("value"))


def list_files(spark: SparkSession, pattern: str) -> list[str]:
    """Driver-side glob (S10). Batch jobs only — streaming jobs must use
    the file-stream source, which tracks discovery in the checkpoint."""
    return sorted(_glob.glob(pattern))


def read_jdbc(spark: SparkSession, url: str, query: str, **options) -> DataFrame:
    """S4: whole-query pushdown to an RDBMS (the reference's main source,
    `src/database/connection.py:47-68`)."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("query", query)
        .options(**options)
        .load()
    )


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """S5/S6: JDBC sink. In the CDC engine the lake MERGE replaces this;
    kept for parity with the reference's Postgres sink."""
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(
        **options
    ).mode(mode).save()


def documents_as_change_events(docs: DataFrame, lsn_start: int = 1) -> DataFrame:
    """Bridge the shared `documents` fixture into the change-event shape
    (FIXTURES.md §6): deterministic md5-based tokenization of `text`, doc_id
    cast to string, source passed through.

    LSNs are assigned partition-parallel: per-partition row counts (one
    narrow pass) become cumulative offsets, and each partition numbers its
    own rows under a partition-local window — no global single-partition
    row_number, so the bridge generates a 10^10-row WAL as fast as the
    scan itself. LSNs are unique and contiguous from ``lsn_start``; their
    mapping to docs depends on the input partitioning (fixture contract:
    any total order is a valid WAL — replay correctness is judged on final
    state, and both passes plan the same deterministic scan splits).
    """
    words = F.split("text", " ")
    tokens = F.transform(
        words,
        lambda w: (
            F.conv(F.substring(F.md5(w), 1, 6), 16, 10).cast("long") % 50_257
        ).cast("int"),
    )
    numbered = assign_partition_parallel_lsns(docs, lsn_start)
    return numbered.select(
        "lsn",
        F.lit("insert").alias("op"),
        F.col("doc_id").cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(words).cast("int").alias("n_tok"),
        F.col("source").alias("source"),
        F.lit(None).cast("string").alias("schema_change"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def assign_partition_parallel_lsns(
    df: DataFrame, lsn_start: int = 1, order_col: str = "doc_id"
) -> DataFrame:
    """Add a unique, contiguous ``lsn`` column starting at ``lsn_start``,
    partition-parallel: per-partition row counts (one narrow pass) become
    cumulative offsets, and each partition numbers its own rows under a
    partition-local window — no global single-partition row_number, so
    numbering a 10^10-row frame runs as fast as the scan itself. The
    LSN→row mapping depends on the input partitioning (contract: any
    total order is a valid WAL).
    """
    # _pid must be MATERIALIZED as a column at the scan stage: both the
    # window and the offset lookup sit downstream of the window's shuffle
    # exchange, where a bare spark_partition_id() call would evaluate to
    # the REDUCER partition id (duplicating or nulling LSNs for any
    # multi-partition input) instead of the scan partition the offsets
    # map was built from. withColumn silently REPLACES an existing column,
    # so a caller-supplied _pid would corrupt the offsets map without any
    # error — refuse it instead.
    if "_pid" in df.columns:
        raise ValueError(
            "assign_partition_parallel_lsns: input already has a '_pid' "
            "column (reserved for the internal scan-partition id); rename "
            "it first"
        )
    cols = df.columns
    df = df.withColumn("_pid", F.spark_partition_id())
    counts = sorted(
        (r["_pid"], r["n"])
        for r in df.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, base = [], 0
    for pid, n in counts:
        offsets.append((pid, base))
        base += n
    # the offsets map and the output run as two separate jobs over the
    # same scan; identical inputs plan identical splits, but a frame whose
    # partitioning is unstable across jobs (sample(), a partially-evicted
    # cache) would remap pids — a map miss must fail loudly, never emit
    # NULL LSNs into a WAL
    off = F.coalesce(
        F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p, _ in offsets]),
                F.array(*[F.lit(o) for _, o in offsets]),
            ),
            F.col("_pid"),
        ),
        F.raise_error(
            F.concat(
                F.lit("LSN offsets map missing scan partition "),
                F.col("_pid").cast("string"),
                F.lit(" — input partitioning changed between jobs"),
            )
        ),
    ) if offsets else F.lit(0)
    w = Window.partitionBy("_pid").orderBy(order_col)
    return df.select(
        (F.lit(lsn_start) + off + F.row_number().over(w) - 1).alias("lsn"),
        *cols,
    )


def rewrites_as_update_events(
    rewrite: DataFrame, state: DataFrame, lsn_start: int
) -> DataFrame:
    """Close the corrective loop: turn
    :func:`~file_standardization_etl_spark.operators.tokenize.strip_dup_token_spans_rewrite`
    output — (doc_id, n_tok, n_tok_masked, clean_tokens) computed over
    the lake table's OWN state — into ordinary change events the engine
    applies through the same exactly-once, LWW, quarantine-validated
    merge as any upstream CDC feed (``lsn_start`` must be above the
    applied watermark, e.g. ``engine.applied_lsn() + 1``).

    A doc whose every token was masked (fully duplicated content) comes
    back as a DELETE event — the Lee-et-al corrective action drops empty
    documents rather than committing zero-length token arrays (which the
    validator would quarantine as ``empty_tokens``). ``source`` is
    carried over from the current state row so the source-whitelist
    check keeps passing; the join is keyed on doc_id with the small
    rewrite side broadcast-eligible, and LSNs are assigned with the same
    partition-parallel numbering as the WAL bridge.
    """
    from ..operators.tokenize import persist_bounded

    src = state.select(F.col("doc_id").cast("string").alias("doc_id"), "source")
    base = (
        rewrite.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("clean_tokens").alias("tokens"),
        )
        .join(src, "doc_id")
    )
    # Persist the joined corrective frame (affected rows only — small by
    # construction) BEFORE LSN assignment: the numbering needs one counts
    # job and the caller's write/apply is a second job, and without the
    # persist each would re-run the whole detect+rewrite pipeline
    # (including its table-state scans). The persist also pins the
    # partitioning the per-partition offsets were computed from. Tracked
    # in the bounded gate FIFO, so a resident session never accumulates
    # them; ``clear_gate_caches()`` releases it once the events are applied.
    base = persist_bounded(base)
    numbered = assign_partition_parallel_lsns(base, lsn_start)
    empty = F.size("tokens") == 0
    return numbered.select(
        "lsn",
        F.when(empty, F.lit("delete")).otherwise(F.lit("update")).alias("op"),
        "doc_id",
        F.when(empty, F.lit(None)).otherwise(F.col("tokens")).alias("tokens"),
        F.when(empty, F.lit(None).cast("int"))
        .otherwise(F.size("tokens").cast("int"))
        .alias("n_tok"),
        "source",
        F.lit(None).cast("string").alias("schema_change"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
