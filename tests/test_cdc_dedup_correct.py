"""Corrective-maintenance loop over the lake table's OWN payloads:
detect cross-document duplicated TOKEN spans in the table state
(ExactSubstr, Lee et al. 2022), rewrite the affected rows, and feed the
corrections back through the engine's exactly-once merge as ordinary
CDC update/delete events — final state verified against a pure-Python
recomputation of the masking (bitwise token arrays, the BASELINE.json
judging criterion)."""

from __future__ import annotations

import pytest

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import SOURCE_WHITELIST, events_df
from file_standardization_etl_spark.operators import tokenize
from file_standardization_etl_spark.sources.readers import rewrites_as_update_events


def _mask_bruteforce(docs: dict[str, list[int]], n: int) -> dict[str, list[int]]:
    """doc_id -> cleaned token list, AFFECTED docs only: every non-first
    occurrence (keeper = min (doc_id, pos)) of a repeated n-token span
    masked, covered positions dropped."""
    occ: dict[tuple, list] = {}
    for d in docs:
        toks = docs[d]
        for i in range(len(toks) - n + 1):
            occ.setdefault(tuple(toks[i : i + n]), []).append((d, i))
    masked: dict[str, set] = {}
    for sites in occ.values():
        if len(sites) < 2:
            continue
        for d, p in sorted(sites)[1:]:
            masked.setdefault(d, set()).update(range(p, p + n))
    return {
        d: [t for i, t in enumerate(docs[d]) if i not in masked[d]]
        for d in masked
    }


def test_dedup_correct_roundtrip_through_merge(spark, tmp_path):
    n = 4
    src = SOURCE_WHITELIST[0]
    docs = {
        "a": [1, 2, 3, 4, 5, 6, 7, 8],
        "b": [9, 10, 1, 2, 3, 4, 11],  # carries a's leading span at pos 2
        "c": [1, 2, 3, 4, 12, 13, 14, 15],  # same span again at pos 0
        "d": [20, 21, 22, 23],
        "e": [20, 21, 22, 23],  # fully duplicated -> rewrite empties it -> DELETE
        "f": [30, 31, 32, 33, 34],  # unique, must come through untouched
    }
    events = [
        {
            "lsn": i + 1,
            "op": "insert",
            "doc_id": d,
            "tokens": t,
            "n_tok": len(t),
            "source": src,
            "schema_change": None,
            "ts": None,
        }
        for i, (d, t) in enumerate(sorted(docs.items()))
    ]
    eng = CdcEngine(spark, str(tmp_path / "lake"))
    eng.init()
    eng.apply_batch(events_df(spark, events), batch_id=0)

    state = eng.state()
    rewrite = tokenize.strip_dup_token_spans_rewrite(state, col="tokens", n=n, k=100)
    corrections = rewrites_as_update_events(
        rewrite, state, lsn_start=eng.applied_lsn() + 1
    )
    # the corrective batch is schema-shaped like any WAL slice
    assert [f.name for f in corrections.schema.fields] == [
        "lsn", "op", "doc_id", "tokens", "n_tok", "source", "schema_change", "ts",
    ]
    # production shape: persist the corrective segment as a durable WAL
    # slice, then apply the slice — the events must not re-derive from
    # the (about to change) table state on redelivery
    seg = str(tmp_path / "corrective_wal")
    corrections.write.parquet(seg)
    slice_df = spark.read.parquet(seg)
    rows = slice_df.collect()
    assert {r["doc_id"]: r["op"] for r in rows} == {
        "b": "update", "c": "update", "e": "delete",
    }
    eng.apply_batch(slice_df, batch_id=1)

    expect = dict(docs)
    for d, cleaned in _mask_bruteforce(docs, n).items():
        if cleaned:
            expect[d] = cleaned
        else:
            expect.pop(d)  # fully-masked doc deleted
    final = eng.state().collect()
    got = {r["doc_id"]: list(r["tokens"]) for r in final}
    assert got == expect  # bitwise token arrays
    for r in final:  # the engine's n_tok==len(tokens) invariant holds post-fix
        assert r["n_tok"] == len(r["tokens"])
    assert eng.quarantine().count() == 0  # nothing rejected by the corrective batch

    # redelivery of the corrective batch is a no-op (LSNs at/below watermark)
    eng.apply_batch(spark.read.parquet(seg), batch_id=1)
    again = {r["doc_id"]: list(r["tokens"]) for r in eng.state().collect()}
    assert again == expect


def test_strip_dup_token_spans_rewrite_matches_bruteforce(spark):
    """Array-domain parity with the dict recomputation on a generated
    corpus (int tokens, heavy span sharing), both join strategies."""
    import random

    rng = random.Random(5)
    shared = [rng.randrange(100) for _ in range(6)]
    docs = {}
    for i in range(40):
        body = [rng.randrange(1000, 2000) for _ in range(rng.randrange(4, 12))]
        if i % 3 == 0:  # embed the shared span at a random offset
            at = rng.randrange(0, len(body) + 1)
            body = body[:at] + shared + body[at:]
        docs[f"doc{i:03d}"] = body
    n = 5
    df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id string, tokens array<int>"
    )
    cleaned = _mask_bruteforce(docs, n)
    want = sorted(
        (
            (d, len(docs[d]), len(docs[d]) - len(cleaned[d]), cleaned[d])
            for d in cleaned
        ),
        key=lambda t: (-t[2], t[0]),
    )
    for bc in (None, False):
        got = [
            (r["doc_id"], r["n_tok"], r["n_tok_masked"], list(r["clean_tokens"]))
            for r in tokenize.strip_dup_token_spans_rewrite(
                df, col="tokens", n=n, k=100, broadcast_hot=bc
            ).collect()
        ]
        assert got == want


def test_null_tokens_do_not_collide_grams(spark):
    """concat_ws SKIPS nulls, so without a null sentinel the slices
    [5,None,7,9] and [None,5,7,9] would render identically ('5:7:9') and
    mask content that was never duplicated. Distinct null-bearing slices
    must not match; identical null-bearing slices must."""
    df = spark.createDataFrame(
        [
            ("a", [5, None, 7, 9]),
            ("b", [None, 5, 7, 9]),  # different slice, same null-skipped render
            ("c", [8, None, 9, 2]),
            ("d", [8, None, 9, 2]),  # true duplicate incl. the null position
        ],
        "doc_id string, tokens array<int>",
    )
    got = [
        (r["doc_id"], list(r["clean_tokens"]))
        for r in tokenize.strip_dup_token_spans_rewrite(
            df, col="tokens", n=4, k=10
        ).collect()
    ]
    # only d (the non-keeper of the c/d duplicate) is corrected — to empty;
    # a and b are NOT duplicates of each other and must be untouched
    assert got == [("d", [])]


def test_string_tokens_with_separator_raise_instead_of_masking(spark):
    """The ':'-joined grams are injective only if no token rendering
    contains ':' (or chr(1), the null rendering). ["a:b", "c"] and
    ["a", "b:c"] would both render the 2-gram "a:b:c" and mask each
    other; the rewrite must fail the query instead. Integral ids and
    separator-free string ids pass; other element types are rejected
    before any plan is built."""
    bad = spark.createDataFrame(
        [("x", ["a:b", "c"]), ("y", ["a", "b:c"])], "doc_id string, tokens array<string>"
    )
    with pytest.raises(Exception, match="reserved separator"):
        tokenize.strip_dup_token_spans_rewrite(bad, n=2, k=None).collect()

    ok = spark.createDataFrame(
        [("x", ["ab", "c", None]), ("y", ["ab", "c", None])],
        "doc_id string, tokens array<string>",
    )
    got = tokenize.strip_dup_token_spans_rewrite(ok, n=2, k=None).collect()
    assert [(r["doc_id"], r["n_tok_masked"]) for r in got] == [("y", 3)]

    with pytest.raises(ValueError, match="integral or string token ids"):
        tokenize.strip_dup_token_spans_rewrite(
            spark.createDataFrame([("x", [1.5])], "doc_id string, tokens array<double>"),
            n=2,
        )
