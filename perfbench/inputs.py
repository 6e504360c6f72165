"""Seeded input generation, independent of the engine's own generators.

Everything is drawn from one ``numpy`` generator seeded by ``--seed`` and
written as parquet before any timing starts, so the engine only ever sees
files and a change to program code can never change the inputs.

The event shape follows ``cdc.events.spark_generate_events``: bounded zipf
keys (``u^(-1/(a-1))`` capped at ``n_docs - 1``, so one cap doc is hot),
about 5 % deletes, 50/50 insert/update, up to 64 tokens drawn uniformly
from a 50,257-token vocabulary. On top of that every invalid-payload reason
the engine knows is drawn (``bad_n_tok``, ``bad_source``, ``null_tokens``,
``empty_tokens``; about 8 % of events together), and rows are shuffled
inside each segment file, because the WAL contract allows disorder inside a
batch but not across batches. A share of documents carries one of a few
fixed 16-token boilerplate spans, which is what the dedup-correct pass
finds and rewrites.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_257
SOURCES = ["web", "books", "code", "wiki", "forum"]
BAD_SOURCES = ["spam", "unknown", ""]
SPAN_LEN = 16
N_SPANS = 8

EVENT_SCHEMA = pa.schema(
    [
        pa.field("lsn", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
        pa.field("schema_change", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


DELETE = 0.05
# shares of non-delete events with an invalid payload, one per reason:
# bad_n_tok, bad_source, null_tokens, empty_tokens
INVALID = (0.04, 0.02, 0.01, 0.01)
ZIPF_A = 1.3
MAX_TOKENS = 64


def _doc_ids(ranks: np.ndarray) -> pa.Array:
    return pa.array([f"doc{r:07d}" for r in ranks.tolist()], pa.string())


def _token_lists(rng, base_len, spans, has_span, empty, null) -> tuple[pa.Array, np.ndarray]:
    """ListArray of token ids: ``base_len`` random tokens per row, with one
    boilerplate span spliced in at a random position where ``has_span``."""
    lengths = np.where(empty | null, 0, base_len + np.where(has_span, SPAN_LEN, 0))
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    idx = np.flatnonzero(has_span & ~empty & ~null)
    if len(idx):
        pos = rng.integers(0, base_len[idx] + 1)
        start = offsets[idx] + pos
        which = rng.integers(0, len(spans), size=len(idx))
        values[(start[:, None] + np.arange(SPAN_LEN)).ravel()] = spans[which].ravel()
    arr = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values), mask=pa.array(null)
    )
    return arr, lengths


def boilerplate(rng) -> np.ndarray:
    return rng.integers(0, VOCAB, size=(N_SPANS, SPAN_LEN), dtype=np.int32)


def events(rng, spans, lsn_start: int, n: int, n_docs: int, boiler_frac: float) -> pa.Table:
    """One WAL segment of ``n`` events with LSNs ``lsn_start ..``, shuffled;
    a share ``boiler_frac`` of them carries a boilerplate span."""
    u_op = rng.random(n)
    u_kind = rng.random(n)
    is_del = u_op < DELETE
    cuts = np.cumsum(INVALID)
    live = ~is_del
    bad_n = live & (u_kind < cuts[0])
    bad_src = live & (u_kind >= cuts[0]) & (u_kind < cuts[1])
    null = is_del | (live & (u_kind >= cuts[1]) & (u_kind < cuts[2]))
    empty = live & (u_kind >= cuts[2]) & (u_kind < cuts[3])

    u = (rng.integers(0, 1_000_000, size=n) + 1) / 1_000_000.0
    ranks = np.minimum(np.floor(u ** (-1.0 / (ZIPF_A - 1.0))), n_docs - 1).astype(np.int64)
    base_len = rng.integers(1, MAX_TOKENS + 1, size=n)
    has_span = rng.random(n) < boiler_frac
    tokens, lengths = _token_lists(rng, base_len, spans, has_span, empty, null)
    n_tok = np.where(null & ~is_del, base_len, lengths) + bad_n
    op = np.where(is_del, "delete", np.where(rng.random(n) < 0.5, "insert", "update"))
    src = np.array(SOURCES)[rng.integers(0, len(SOURCES), size=n)]
    src = np.where(bad_src, np.array(BAD_SOURCES)[rng.integers(0, len(BAD_SOURCES), size=n)], src)
    table = pa.table(
        {
            "lsn": pa.array(np.arange(lsn_start, lsn_start + n, dtype=np.int64)),
            "op": pa.array(op),
            "doc_id": _doc_ids(ranks),
            "tokens": tokens,
            "n_tok": pa.array(n_tok.astype(np.int32), mask=is_del),
            "source": pa.array(src, mask=is_del),
            "schema_change": pa.nulls(n, pa.string()),
            "ts": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        },
        schema=EVENT_SCHEMA,
    )
    return table.take(pa.array(rng.permutation(n)))


def snapshot(rng, spans, n_docs: int, boiler_frac: float) -> pa.Table:
    """A consistent source snapshot for ``CdcEngine.bootstrap``: one valid
    row per doc, per-row LSN ``i + 1`` (so ``as_of_lsn = n_docs``)."""
    base_len = rng.integers(8, 65, size=n_docs)
    has_span = rng.random(n_docs) < boiler_frac
    no = np.zeros(n_docs, dtype=bool)
    tokens, lengths = _token_lists(rng, base_len, spans, has_span, no, no)
    return pa.table(
        {
            "doc_id": _doc_ids(np.arange(n_docs)),
            "tokens": tokens,
            "n_tok": pa.array(lengths.astype(np.int32)),
            "source": pa.array(np.array(SOURCES)[rng.integers(0, len(SOURCES), size=n_docs)]),
            "lsn": pa.array(np.arange(1, n_docs + 1, dtype=np.int64)),
        }
    )


def write(table: pa.Table, path: str, mtime: int | None = None) -> str:
    """Land ``table`` as one parquet file. ``mtime`` pins the file's
    modification time: the streaming file source orders a WAL directory by
    it, and segments written within one millisecond would otherwise tie."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return path
