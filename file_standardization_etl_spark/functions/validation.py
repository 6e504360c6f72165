"""Vectorized validation of change-event payloads.

Re-expresses the reference's validators — required/null checks
(``/root/reference/src/validation/schema_validator.py:55-76``), numeric
consistency (``src/validation/data_validator.py:62-76``), categorical
whitelist (``src/validation/data_validator.py:79-84``,
``src/config/validation_config.py:25-27``) — over the token-table domain
with **no per-row Python** (north rule). One rule set, two renderings:

- :func:`validation_reason_expr` — Catalyst column expression, whole-stage
  codegen'd; the engine's routed pass splits valid rows from quarantine
  candidates with it, JVM-side.
- :func:`with_reason` — the authoritative reason from one scalar Arrow UDF
  over narrow columns, run on the quarantine slice only.

Both agree bitwise with the oracle (:func:`..cdc.oracle.validation_reason`).

Reason precedence (must match the oracle): null_tokens → empty_tokens →
bad_n_tok → bad_source. Deletes carry no payload and are always valid.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf


def validation_reason_expr(
    op: Column, tokens: Column, n_tok: Column, source: Column, whitelist: list[str]
) -> Column:
    """Catalyst-native validation: returns reason string or null."""
    return (
        F.when(op == "delete", F.lit(None).cast("string"))
        .when(tokens.isNull(), F.lit("null_tokens"))
        .when(F.size(tokens) == 0, F.lit("empty_tokens"))
        .when(n_tok.isNull() | (n_tok != F.size(tokens)), F.lit("bad_n_tok"))
        .when(~source.isin(whitelist), F.lit("bad_source"))
        .otherwise(F.lit(None).cast("string"))
    )


def make_slim_validation_pandas_udf(whitelist: list[str]):
    """Arrow-vectorized scalar validation UDF over narrow columns.

    The token-array length is extracted JVM-side (``F.size`` reads the
    array header, no element materialization) so only four scalar columns
    cross the Arrow boundary — ~20 bytes/row instead of the full token
    payload (the cost model of Accelerating Python UDFs, CIDR'22).

    Signature: (op, tok_len, n_tok, source) → reason (null = valid);
    ``tok_len`` is null iff tokens is null.
    """
    wl = set(whitelist)

    @pandas_udf("string")
    def _reason(
        op: pd.Series, tok_len: pd.Series, n_tok: pd.Series, source: pd.Series
    ) -> pd.Series:
        # precedence: later masks overwrite earlier ones
        out = pd.Series([None] * len(op), dtype="object")
        out = out.mask(~source.isin(wl), "bad_source")
        out = out.mask(n_tok.isna() | (n_tok != tok_len), "bad_n_tok")
        out = out.mask(tok_len.eq(0).fillna(False), "empty_tokens")
        out = out.mask(tok_len.isna(), "null_tokens")
        out = out.mask(op == "delete", None)
        return out

    return _reason


def with_reason(df: DataFrame, whitelist: list[str]) -> DataFrame:
    """Append the validation ``reason`` column (null = valid) through the
    slim Arrow UDF."""
    fn = make_slim_validation_pandas_udf(whitelist)
    tok_len = (
        F.when(F.col("tokens").isNull(), F.lit(None).cast("int"))
        .otherwise(F.size("tokens"))
    )
    return df.withColumn(
        "reason", fn(F.col("op"), tok_len, F.col("n_tok"), F.col("source"))
    )
