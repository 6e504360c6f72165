"""Token-sequence operators for training-data preparation: context-window
chunking, vocabulary statistics, and deterministic dataset splits.

The corpus tables carry raw text; token ids are derived deterministically
as the first 8 hex digits of md5(word) — the same engine-portable keyed
hash used by the dedup operators (identical in Spark and DuckDB, so every
op here is oracle-checkable bit-for-bit). On a real pipeline the id column
would come from the tokenizer upstream; every plan below reads an
`array<token>` column and never cares how it was produced.

Scale notes:

- chunking is per-row narrow work (two generator explodes inside one
  whole-stage-codegen span, no shuffle at all until the caller
  aggregates) — the 100 TB shape is "explode in the map stage, write".
- vocab stats shuffle one (token, count) pair per distinct token per
  task thanks to partial aggregation; top-k is a TakeOrderedAndProject
  (no global sort).
- hash-split is a stateless projection — the split is a pure function of
  (doc_id, salt), so it is reproducible across runs, clusters, and
  engines, and any subset of the corpus can be split independently (the
  property random() splits lack).
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import BROADCAST_MAX_KEY_ROWS, LakeTable

TOKEN = "substring(md5(x), 1, 8)"
TRAIN_PCT = 98  # default train band of the 0-99 split bucket


def split_bucket_sql(key: str, salt: str) -> str:
    """0-99 bucket from 4 md5 hex digits of (salt ':' key) — written in
    the engine-portable subset (md5/substring/instr/%), so the SAME text
    is both the Spark expression and the DuckDB oracle expression and the
    two can never drift. 65536 % 100 bias is ±1 part in 655."""
    h = f"md5(concat('{salt}', ':', cast({key} as string)))"
    digits = [
        f"(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1)"
        for i in range(4)
    ]
    poly = " + ".join(f"{d} * {16 ** (3 - i)}" for i, d in enumerate(digits))
    return f"(({poly}) % 100)"


def hex_mod_sql(col: str, n_digits: int, modulus: int) -> str:
    """``(first n_digits hex chars of col as int) % modulus`` in the
    engine-portable subset (substring/instr/%) — the same text runs as a
    Spark expression and as the DuckDB oracle expression. Bias of the
    modulo is ≤ modulus / 16^n_digits (n_digits=6 → 16.7M values,
    ≤0.6% bias even at 10^5 shards)."""
    digits = [
        f"(instr('0123456789abcdef', substring({col}, {i + 1}, 1)) - 1)"
        for i in range(n_digits)
    ]
    poly = " + ".join(f"{d} * {16 ** (n_digits - 1 - i)}" for i, d in enumerate(digits))
    return f"(({poly}) % {modulus})"


def tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, toks: array<string>) — whitespace words → 8-hex-digit ids."""
    return docs.select(
        "doc_id",
        F.expr(f"transform(split(text, ' '), x -> {TOKEN})").alias("toks"),
    )


def chunk_tokens(
    docs: DataFrame, max_len: int = 32, stride: int = 24
) -> DataFrame:
    """Split each token sequence into overlapping context windows:
    window ``c`` covers tokens ``[1 + c*stride, 1 + c*stride + max_len)``
    (the trailing window may be shorter). Output is fully exploded —
    (doc_id, chunk_id, pos, token) — the exact shape a sequence-packing
    or example-writing stage consumes, and scalar enough for bitwise
    cross-engine comparison.
    """
    if stride <= 0 or max_len <= 0:
        raise ValueError("max_len and stride must be positive")
    t = tokenized(docs)
    return (
        t.select(
            "doc_id",
            "toks",
            F.explode(F.expr(f"sequence(1, size(toks), {stride})")).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / stride).cast("int").alias("chunk_id"),
            F.posexplode(F.expr(f"slice(toks, s, {max_len})")).alias("pos", "token"),
        )
    )


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Top-k token frequencies (count desc, token asc — deterministic
    under ties): (rank, token, n_occurrences)."""
    t = tokenized(docs)
    counts = (
        t.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition heaps, no global
    # sort of the whole vocabulary), then rank the k survivors; a bare
    # row_number over every distinct token would be a one-task sort
    top = counts.orderBy(F.col("n_occ").desc(), "token").limit(k)
    w = F.row_number().over(Window.orderBy(F.col("n_occ").desc(), F.col("token")))
    return top.withColumn("rank", w).select("rank", "token", "n_occ")


def hash_split(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    salt: str = "split-v1",
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: (doc_id, split).

    Bucket = first 8 md5 hex digits of (salt ':' doc_id) mod 100; the
    weights map split names to percentage bands in declaration order.
    Pure projection — no shuffle, no state, stable under re-runs and
    corpus growth (a doc's split never changes when other docs appear).
    """
    weights = weights or {"train": 98, "val": 1, "test": 1}
    if sum(weights.values()) != 100:
        raise ValueError("split weights must sum to 100")
    bucket = F.expr(split_bucket_sql(key, salt)).cast("int")
    expr = None
    lo = 0
    for name, pct in weights.items():
        cond = (F.col("_b") >= lo) & (F.col("_b") < lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return (
        docs.select(key, bucket.alias("_b"))
        .select(key, expr.alias("split"))
    )


def shard_order(
    docs: DataFrame,
    n_shards: int = 16,
    salt: str = "shuffle-v1",
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic global corpus shuffle → (shard, pos, doc_id): the
    stage that fixes a reproducible training order before packing.

    Shard = six leading md5 hex digits of (doc_id ':' salt) decoded to an
    int, mod n_shards (16.7M producible values — supports the 10^4-10^5
    shard counts of the docstring's scale guidance with ≤0.6% modulo
    bias); position = rank within the shard by the full hash (doc_id
    tiebreak). Everything derives from the hash, so the order is
    seed-stable across re-runs and cluster sizes, and re-sharding is a
    salt change, not new state.

    Scale shape: ONE hash-partition shuffle on ``shard`` followed by a
    per-shard sort inside the window — exactly the shuffle the shard-file
    writer needs anyway (at 10^10 docs run with n_shards in the 10^4-10^5
    range so a shard's docs sort within an executor). The arithmetic is
    the portable substring/instr/% subset (``hex_mod_sql``) — the oracle
    runs the identical expression text. Training-pipeline extension; no
    counterpart in the reference (its processing order is whatever the
    driver loop encounters,
    /root/reference/file_standardization_job.py:199-240).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.md5(F.concat_ws(":", F.col(key).cast("string"), F.lit(salt)))
    shard = F.expr(hex_mod_sql("_h", 6, n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("_h", key)
    return (
        docs.select(key, h.alias("_h"))
        .select(key, "_h", shard.alias("shard"))
        .select(
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
            key,
        )
    )


def _gram_hashes(n: int) -> str:
    """Distinct md5 hashes of the n-word grams of column ``w`` (only docs
    with >= n words produce grams — a shorter doc has no full n-gram)."""
    parts = ", ".join(f"element_at(w, i + {k})" for k in range(n))
    return (
        f"array_distinct(transform(sequence(1, size(w) - {n - 1}),"
        f" i -> md5(concat_ws(' ', {parts}))))"
    )


def contamination_pairs(
    docs: DataFrame,
    n: int = 8,
    salt: str = "split-v1",
    min_shared: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/eval decontamination scan: for every (train doc, eval doc)
    pair sharing at least ``min_shared`` distinct n-word grams, emit
    (train_doc, eval_doc, n_shared). Eval membership is the hash-split
    band (bucket >= TRAIN_PCT), so the scan needs no precomputed split
    column and composes with ``hash_split`` by construction.

    Scale shape: the eval side is ~2% of the corpus; its exploded gram
    set is broadcast (size-gate with ``broadcast_eval=False`` to fall
    back to a shuffled hash join — at 100 TB you would instead ship a
    bloom filter of eval grams to pre-filter the train side). The train
    side is never collected and never self-joined — one scan, one join,
    one partial-agg groupBy.
    """
    if n < 1:
        raise ValueError("n must be positive")
    b = F.expr(split_bucket_sql("doc_id", salt)).cast("int")
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("w"), b.alias("_b"))
        .filter(F.size("w") >= n)
        .select("doc_id", "_b", F.explode(F.expr(_gram_hashes(n))).alias("gram"))
    )
    train = grams.filter(F.col("_b") < TRAIN_PCT).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    ev = grams.filter(F.col("_b") >= TRAIN_PCT).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        train.join(ev, "gram")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # grams are distinct per doc
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate(docs: DataFrame, n: int = 8, salt: str = "split-v1") -> DataFrame:
    """Clean train roster: train-split docs that share NO n-gram with any
    eval doc — (doc_id) anti-joined against the contamination scan."""
    dirty = contamination_pairs(docs, n=n, salt=salt).select(
        F.col("train_doc").alias("doc_id")
    )
    b = F.expr(split_bucket_sql("doc_id", salt)).cast("int")
    train = docs.select("doc_id").filter(b < TRAIN_PCT)
    return train.join(dirty, "doc_id", "left_anti")


def pack_payload(
    docs: DataFrame,
    max_len: int = 32,
    stride: int = 24,
    capacity: int = 64,
    n_shards: int = 8,
    salt: str = "pack-v1",
) -> DataFrame:
    """Materialized sequence packing: the actual packed token stream per
    example, proven by fingerprint — (shard, example_id, n_chunks,
    n_docs, n_tokens, example_md5) where example_md5 hashes the example's
    tokens in their exact packed order (chunks laid end-to-end sorted by
    (doc_id, chunk_id), same assignment rule as :func:`pack_examples`).
    The hash makes the byte layout bitwise-checkable cross-engine without
    emitting array columns.

    Scale shape: identical to pack_examples except the chunk rows carry
    their sliced token window; the per-example ``collect_list`` buffer is
    BOUNDED by construction (an example covers ``capacity`` stream
    tokens, so at most ``capacity`` chunks / ``capacity + max_len - 1``
    tokens per buffer) — never a whole document, never a whole shard.
    """
    if capacity < max_len:
        raise ValueError("capacity must be >= max_len")
    shard = (F.expr(split_bucket_sql("doc_id", salt)) % n_shards).cast("int")
    t = tokenized(docs).select("doc_id", shard.alias("shard"), "toks")
    chunks = t.select(
        "doc_id",
        "shard",
        "toks",
        F.explode(F.expr(f"sequence(1, size(toks), {stride})")).alias("s"),
    ).select(
        "doc_id",
        "shard",
        ((F.col("s") - 1) / stride).cast("int").alias("chunk_id"),
        F.expr(f"slice(toks, s, {max_len})").alias("win"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id", "chunk_id")
    offs = chunks.withColumn("n_tok", F.size("win")).withColumn(
        "example_id",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / capacity).cast("int"),
    )
    packed = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "chunk_id", "win"))),
            lambda x: x["win"],
        )
    )
    return offs.groupBy("shard", "example_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.md5(F.concat_ws(" ", packed)).alias("example_md5"),
    )


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Training-mixture composition: per source, document count, token
    count, and the source's share of the total token budget in exact
    integer parts-per-million (n_tokens * 1_000_000 div total) —
    the number a data-mixing stage feeds into per-source sampling rates.

    Scale shape: one corpus scan into a partial-aggregated groupBy(source)
    (sources are few — the shuffled state is one row per source per task);
    the grand total is a second aggregate over that tiny frame, broadcast
    back in. The corpus is never scanned twice and nothing is collected.
    """
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST(n_tokens * 1000000 DIV _total AS BIGINT)").alias("weight_ppm"),
    )


def pack_examples(
    docs: DataFrame,
    max_len: int = 32,
    stride: int = 24,
    capacity: int = 64,
    n_shards: int = 8,
    salt: str = "pack-v1",
) -> DataFrame:
    """Offset-based sequence packing: chunks are laid end-to-end in a
    shard's concatenated token stream (deterministic order: doc_id,
    chunk_id) and an example is the ``capacity``-token aligned window the
    chunk's START offset falls in. Output is per-example stats:
    (shard, example_id, n_chunks, n_docs, n_tokens).

    A chunk that straddles an example boundary belongs to the example
    containing its first token (examples can overflow by up to
    max_len - 1 tokens; downstream writers truncate or pad — the
    assignment, not the byte layout, is the distributed problem).

    Scale shape: chunk lengths come from arithmetic on size(split(text))
    — the token arrays themselves are never exploded. The only shuffle
    is the per-shard window; shards are an md5 bucket of doc_id, so
    ``n_shards`` scales the sort width to the cluster (each shard sorts
    independently; 10^5 shards at 100 TB keeps per-task sorts in memory).
    """
    if capacity < max_len:
        raise ValueError("capacity must be >= max_len")
    shard = (F.expr(split_bucket_sql("doc_id", salt)) % n_shards).cast("int")
    base = docs.select(
        "doc_id",
        shard.alias("shard"),
        F.size(F.split("text", " ")).alias("n"),
    )
    chunks = base.select(
        "doc_id",
        "shard",
        "n",
        F.explode(F.expr(f"sequence(1, n, {stride})")).alias("s"),
    ).select(
        "doc_id",
        "shard",
        ((F.col("s") - 1) / stride).cast("int").alias("chunk_id"),
        F.least(F.lit(max_len), F.col("n") - F.col("s") + 1).alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id", "chunk_id")
    offs = chunks.withColumn(
        "example_id",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / capacity).cast("int"),
    )
    return offs.groupBy("shard", "example_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


def _gate_broadcast(df: DataFrame, mode, row_bytes):
    """Measured broadcast gate for a distilled small-side frame: with
    ``mode=None`` (auto — the default at every call site) the frame is
    persisted, its rows and estimated bytes are COUNTED with a 1-row
    aggregate, and it is broadcast only when both clear the engine-wide
    gate constants (``lake.table.BROADCAST_MAX_KEY_ROWS`` rows /
    ``LakeTable.MOR_BROADCAST_MAX_BYTES`` bytes) — the byte constant
    also gates the merge-on-read read's broadcast of the stack's keys.
    On a 100 TB web corpus the hot n-gram set is
    data-dependent and CAN exceed the 8 GB broadcast hard limit; the
    fallback keeps the plan an equi-join on the same key, where AQE's
    skew split still applies. ``mode=True/False`` forces the decision
    (tests; callers that already measured). The persist is load-bearing
    either way: the gate aggregate materializes the frame once and the
    downstream join reuses it instead of recomputing the corpus scan.

    Cache lifetime: see :func:`persist_bounded`.

    ``row_bytes``: a Column estimating that row's in-memory bytes.
    """
    if mode is True:
        return F.broadcast(df)
    if mode is False:
        return df
    df = persist_bounded(df)
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(row_bytes), F.lit(0)).alias("b"),
    ).collect()[0]  # 1-row gate aggregate, not a payload collect
    if (
        stats["n"] <= BROADCAST_MAX_KEY_ROWS
        and stats["b"] <= LakeTable.MOR_BROADCAST_MAX_BYTES
    ):
        return F.broadcast(df)
    return df


_GATE_CACHE: list[DataFrame] = []
_GATE_CACHE_MAX = 8
_GATE_LOCK = threading.Lock()  # callers may persist from several threads


def persist_bounded(df: DataFrame) -> DataFrame:
    """Persist ``df`` (memory+disk) in a bounded FIFO: only the
    ``_GATE_CACHE_MAX`` most recent frames stay persisted, so a resident
    session running many gated queries does not pin every one (the big
    frames that failed a gate above all) for the JVM's life. An evicted
    frame that a still-pending plan references is simply recomputed;
    :func:`clear_gate_caches` drops them all eagerly."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _GATE_LOCK:
        # a re-persisted plan shares the cache entry of its earlier twin:
        # move it to the newest slot rather than track it twice, since
        # evicting the stale twin would uncache the plan the new one uses
        _GATE_CACHE[:] = [f for f in _GATE_CACHE if not f.sameSemantics(df)]
        _GATE_CACHE.append(df)
        evicted = _GATE_CACHE[:-_GATE_CACHE_MAX]
        del _GATE_CACHE[:-_GATE_CACHE_MAX]
    for old in evicted:
        old.unpersist()
    return df


def clear_gate_caches() -> None:
    """Unpersist every frame :func:`persist_bounded` is still holding."""
    with _GATE_LOCK:
        frames = list(_GATE_CACHE)
        _GATE_CACHE.clear()
    for df in frames:
        df.unpersist()


def dup_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    k: int = 100,
    broadcast_hot: bool | None = None,
) -> DataFrame:
    """Cross-document exact duplicate n-gram spans — the fixed-width
    formulation of suffix-array ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    n-word gram appearing in at least ``min_docs`` distinct documents,
    with its document and occurrence counts, top-``k`` by occurrence
    (count desc, gram asc — a total order, since gram is the group key).

    Scale shape: the exploded span stream is ~one row per token, so the
    wide shuffle must not carry W-token strings. Positions emit an
    8-byte ``xxhash64`` of the gram; the first aggregate (map-side
    combined) counts distinct docs per HASH, and only hashes clearing
    ``min_docs`` — a set several orders of magnitude smaller than the
    position stream on real corpora — are joined back to gate the exact
    gram-text aggregate. The gate side is broadcast only when its
    MEASURED size clears the shared constants (``broadcast_hot=None``
    auto; see :func:`_gate_broadcast`), shuffled semi-join otherwise.
    A hash collision can only ADD a gram to the
    gated set; the final filter re-applies ``min_docs`` on the exact
    per-gram count, so the result is collision-proof. Not fully lazy:
    with ``broadcast_hot=None`` the gate runs one eager Spark job while
    this call builds the plan. Reference scope:
    the reference dedups rows by business key (file_standardization_job
    .py:214 drop_duplicates); span-level corpus dedup is the
    training-data extension of that same exact-match family.
    """
    if n < 1:
        raise ValueError("n must be positive")
    parts = ", ".join(f"element_at(w, i + {j})" for j in range(n))
    spans = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(1, size(w) - {n - 1}),"
                       f" i -> concat_ws(' ', {parts}))")
            ).alias("gram"),
        )
        .select("doc_id", "gram", F.xxhash64("gram").alias("gram_h"))
    )
    hot = (
        spans.groupBy("gram_h")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram_h")
    )
    hot = _gate_broadcast(hot, broadcast_hot, F.lit(16))
    return (
        spans.join(hot, "gram_h", "left_semi")
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_occ").desc(), F.col("gram"))
        .limit(k)
    )


def _split_words(docs: DataFrame) -> DataFrame:
    """(doc_id, w: array<word>, n_words) — the shared corpus projection."""
    return docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select("doc_id", "w", F.size("w").alias("n_words"))


def _masked_positions(
    docs: DataFrame, n: int, broadcast_hot
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the ExactSubstr corrective ops: (base, masked)
    where ``base`` is the word-split corpus and ``masked`` is the
    (doc_id, n_words, pos) stream of every non-keeper occurrence of a
    repeated n-gram. The keeper of each exact gram is its corpus-global
    minimum (doc_id, pos) — a total order.

    Scale shape, stage by stage:

    - the per-position stream carries only (doc_id, pos, hash8);
      repetition hotness (count >= 2, cheaper than distinct-doc
      counting) is aggregated map-side per 8-byte hash, and only hot
      hashes survive to the exact stages (semi-join, measured broadcast
      gate — :func:`_gate_broadcast`).
    - keeper election is TWO-PHASE, never a single-task window:
      ``min(struct(doc_id, pos))`` partial-aggregates per partition
      (struct min is declarative, type-generic, and orders by native
      field order — matching the oracle's ``ORDER BY doc_id, pos`` for
      numeric AND string doc ids) before the per-gram shuffle. An
      ultra-hot boilerplate gram contributes ONE row per map partition,
      not a single-task window over millions of occurrences. The struct
      buffer plans as a map-side-combined SortAggregate (same trade as
      the CDC ``max_by(struct)`` path) — a per-partition sort of the
      already-gated stream, never a global one.
    - masking joins keepers back on (gram_h, gram) and drops the one
      row whose encoded key equals the keeper's. The keeper side is one
      row per hot gram and goes through the same measured broadcast
      gate; its shuffled fallback is an equi-join AQE can skew-split —
      a plain window could not be split either way.
    - a hash collision merely lets a unique gram through the gate; it
      is its own keeper, so nothing is masked — collision-proof.
    """
    base = _split_words(docs)
    return base, _masked_positions_core(base, n, broadcast_hot, sep=" ")


def _masked_positions_core(
    base: DataFrame, n: int, broadcast_hot, sep: str = " "
) -> DataFrame:
    """Element-type-agnostic core of :func:`_masked_positions`: ``base``
    is any (doc_id, w: array<string>, n_words) frame (space-split words,
    or token ids cast to string) and the returned frame is the masked
    (doc_id, n_words, pos) stream. Grams are ``sep``-joined slices —
    injective as long as elements cannot contain ``sep`` (space-split
    words cannot contain a space; token ids contain no separator), so
    gram identity equals slice identity. All scale properties (hash
    gate, two-phase keeper election, measured broadcasts) documented on
    the caller."""
    if n < 1:
        raise ValueError("n must be positive")
    parts = ", ".join(f"element_at(w, i + {j})" for j in range(n))
    spans = (
        base.filter(F.col("n_words") >= n)
        .select(
            "doc_id",
            "n_words",
            F.posexplode(
                F.expr(f"transform(sequence(1, size(w) - {n - 1}),"
                       f" i -> concat_ws('{sep}', {parts}))")
            ).alias("pos", "gram"),
        )
        .select("doc_id", "n_words", "pos", "gram", F.xxhash64("gram").alias("gram_h"))
    )
    hot = (
        spans.groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("gram_h")
    )
    hot = _gate_broadcast(hot, broadcast_hot, F.lit(16))
    gated = spans.join(hot, "gram_h", "left_semi")
    keepers = gated.groupBy("gram_h", "gram").agg(
        F.min(F.struct("doc_id", "pos")).alias("_keeper")
    )
    keepers = _gate_broadcast(
        keepers, broadcast_hot, F.octet_length("gram") + F.lit(48)
    )
    masked = (
        gated.join(keepers, ["gram_h", "gram"])
        .filter(
            (F.col("doc_id") != F.col("_keeper.doc_id"))
            | (F.col("pos") != F.col("_keeper.pos"))
        )
        .select("doc_id", "n_words", "pos")
    )
    return masked


def strip_dup_spans(
    docs: DataFrame,
    n: int = 8,
    k: int = 500,
    broadcast_hot: bool | None = None,
) -> DataFrame:
    """The corrective action behind :func:`dup_spans` (Lee et al. 2022):
    every occurrence of a repeated n-word gram EXCEPT the corpus-global
    first (min (doc_id, position), a total order) is masked, and each
    affected document reports exact damage stats —
    (doc_id, n_words, n_spans_masked, n_words_masked) where
    ``n_words_masked`` counts the distinct word positions covered by the
    union of that doc's masked spans (overlapping spans do not double
    count). Top-``k`` by (n_words_masked desc, doc_id) — a total order.

    Gating, keeper election, and skew behavior: :func:`_masked_positions`.
    Per-doc coverage explodes each masked span into its n positions
    row-locally (bounded by n) and hash-aggregates distinct positions —
    no per-doc buffer is ever collected. Not fully lazy: with
    ``broadcast_hot=None`` each of the two gates runs one eager Spark job
    while this call builds the plan. For the rewritten corpus (the
    artifact a training pipeline consumes) see
    :func:`strip_dup_spans_rewrite`.
    """
    _, masked = _masked_positions(docs, n, broadcast_hot)
    covered = masked.select(
        "doc_id",
        "n_words",
        "pos",
        F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("wpos"),
    )
    return (
        covered.groupBy("doc_id", "n_words")
        .agg(
            F.countDistinct("pos").alias("n_spans_masked"),
            F.countDistinct("wpos").alias("n_words_masked"),
        )
        .select("doc_id", "n_words", "n_spans_masked", "n_words_masked")
        .orderBy(F.col("n_words_masked").desc(), F.col("doc_id"))
        .limit(k)
    )


def strip_dup_spans_rewrite(
    docs: DataFrame,
    n: int = 8,
    k: int = 500,
    broadcast_hot: bool | None = None,
) -> DataFrame:
    """The rewritten corpus from :func:`strip_dup_spans` — the actual
    Lee-et-al corrective ACTION, not just damage stats: for every
    affected document, the words covered by any masked (non-keeper)
    repeated n-gram span are removed and the remainder re-joined —
    (doc_id, n_words, n_words_masked, clean_text), top-``k`` by
    (n_words_masked desc, doc_id) — a total order.

    Scale shape on top of :func:`_masked_positions`: masked spans
    explode into word positions ROW-LOCALLY (bounded by n) and
    hash-aggregate into one position-set row per affected doc
    (``collect_set`` bounded by that doc's own length — never a
    corpus-wide buffer). That per-doc mask frame — affected docs only,
    orders of magnitude smaller than the corpus — joins back to the
    word-split corpus through the same measured broadcast gate, and the
    rewrite itself is one row-local projection (:func:`_unmasked`,
    linear in the doc and its mask): no shuffle touches document
    payloads when the mask side broadcasts. Unaffected documents are
    untouched by construction (inner join); a full-corpus emit is the
    caller's ``docs.join(this, "doc_id", "left")`` +
    ``coalesce(clean_text, text)``.
    """
    base, masked = _masked_positions(docs, n, broadcast_hot)
    masks = _position_masks(masked, n, broadcast_hot)
    return (
        base.join(masks, "doc_id")
        .select(
            "doc_id",
            "n_words",
            F.size("mask").cast("long").alias("n_words_masked"),
            F.expr(f"concat_ws(' ', {_unmasked('w', 'mask')})").alias("clean_text"),
        )
        .orderBy(F.col("n_words_masked").desc(), F.col("doc_id"))
        .limit(k)
    )


def _unmasked(arr: str, mask: str) -> str:
    """SQL for ``arr`` without the elements at the 0-based positions listed
    in ``mask``, order kept, in O(size(arr) + size(mask)): the kept
    positions are the hash-based ``array_except`` of all positions and the
    mask (it keeps the first array's order), then looked up. A per-element
    ``array_contains(mask, i)`` would be O(size(arr) x size(mask)). Empty
    (and NULL) arrays pass through: ``sequence(0, -1)`` is ``[0, -1]``."""
    return (
        f"if(size({arr}) > 0, transform(array_except("
        f"sequence(0, size({arr}) - 1), {mask}), i -> {arr}[i]), {arr})"
    )


def _position_masks(masked: DataFrame, n: int, broadcast_hot) -> DataFrame:
    """(doc_id, mask: array<int>) — distinct word positions covered by a
    doc's masked spans, one row per AFFECTED doc. The span→position
    explode is row-local (bounded by n); ``collect_set`` is bounded by
    that doc's own length, never a corpus-wide buffer; the result goes
    through the measured broadcast gate."""
    masks = (
        masked.select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("wpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("wpos").alias("mask"))
    )
    return _gate_broadcast(
        masks, broadcast_hot, F.size("mask") * 16 + F.lit(32)
    )


def strip_dup_token_spans_rewrite(
    df: DataFrame,
    col: str = "tokens",
    n: int = 8,
    k: int | None = 500,
    broadcast_hot: bool | None = None,
) -> DataFrame:
    """:func:`strip_dup_spans_rewrite` in the engine's NATIVE payload
    domain — a token-array column (the north rule's `(doc_id,
    tokens: array<int>, …)` lake rows) instead of whitespace text:
    every non-keeper occurrence of a repeated n-TOKEN span — across OR
    within documents, the full ExactSubstr rule — is masked and
    affected rows come back as (doc_id, n_tok, n_tok_masked,
    clean_tokens) with the array element type preserved, top-``k`` by
    (n_tok_masked desc, doc_id). ``k=None`` returns EVERY affected row
    unordered — the maintenance-pass shape (`CdcEngine.
    dedup_correct_events`), where a global top-k sort of a 100 TB
    table's corrections would be pure waste. Feeding ``clean_tokens``
    back as CDC update events (next LSNs) turns this into the lake
    table's corrective maintenance op — see
    tests/test_cdc_dedup_correct.py for the end-to-end loop through the
    exactly-once merge.

    Same scale shape as the text variant (:func:`_masked_positions_core`
    — hash-gated position stream, two-phase keeper election, measured
    broadcasts): grams are ':'-joined string renderings of the token
    slice. A NULL element renders as chr(1) rather than disappearing —
    ``concat_ws`` SKIPS nulls, which would make slices of different
    lengths compare equal and mask content that was never duplicated.
    The rebuild filters the ORIGINAL typed array row-locally, so
    payloads are never shuffled when the mask side broadcasts.

    Input contract: grams are injective only if no rendering contains
    ':' or chr(1) — else ``["a:b", "c"]`` and ``["a", "b:c"]`` share a
    gram. Integral ids satisfy it; string ids (e.g. :func:`tokenized`'s
    hex ids) are checked inside the rendering projection and fail the
    query via ``raise_error`` (no extra job); other types raise
    ``ValueError``.
    """
    et = df.schema[col].dataType.elementType
    if isinstance(et, T.IntegralType):
        render = "cast(x as string)"
    elif isinstance(et, T.StringType):
        render = (
            "if(instr(x, ':') + instr(x, chr(1)) > 0, raise_error(concat("
            "'token contains a reserved separator (: or chr(1)): ', x)), x)"
        )
    else:
        raise ValueError(f"{col!r} must hold integral or string token ids, not {et}")
    base = df.select(
        "doc_id",
        F.col(col).alias("_toks"),
        F.expr(f"transform({col}, x -> coalesce({render}, chr(1)))").alias("w"),
    ).select("doc_id", "_toks", "w", F.size("w").alias("n_words"))
    masked = _masked_positions_core(
        base.select("doc_id", "w", "n_words"), n, broadcast_hot, sep=":"
    )
    masks = _position_masks(masked, n, broadcast_hot)
    out = base.join(masks, "doc_id").select(
        "doc_id",
        F.col("n_words").alias("n_tok"),
        F.size("mask").cast("long").alias("n_tok_masked"),
        F.expr(_unmasked("_toks", "mask")).alias("clean_tokens"),
    )
    if k is None:
        return out
    return out.orderBy(F.col("n_tok_masked").desc(), F.col("doc_id")).limit(k)
