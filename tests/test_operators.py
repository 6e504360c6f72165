"""Extended-operator unit tests at sf0.001 (full cross-engine equality is
covered by tools/check_oracle.py at sf0.01; these pin semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_standardization_etl_spark.operators import (
    tokenize,
    dedup_text,
    multimodal,
    similarity,
    textstats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dup_groups_are_real_groups(spark, docs):
    groups = dedup_text.exact_dup_groups(docs, key_words=3).collect()
    for g in groups:
        assert g["n_docs"] > 1
        assert g["keeper_doc"] is not None


def test_minhash_candidates_superset_of_high_jaccard(spark, docs):
    """LSH recall: every pair with very high word-set Jaccard must be a
    candidate (4 bands of 3-shingles catches near-identical docs)."""
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_text.minhash_lsh_candidates(docs).collect()
    }
    verified = dedup_text.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    for r in verified:
        assert (r["doc_a"], r["doc_b"]) in cands
        assert 0.8 <= r["jaccard"] <= 1.0


def test_simhash_identical_docs_equal_hash(spark, docs):
    one = docs.limit(1)
    doubled = one.unionByName(one.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    hashes = [r["simhash"] for r in dedup_text.simhash16(doubled).collect()]
    assert len(hashes) == 2 and hashes[0] == hashes[1]
    assert all(0 <= h < 2**16 for h in hashes)


def test_brute_force_topk_shape_and_order(spark, emb):
    out = similarity.brute_force_topk(emb, [0, 1], k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(-1.001 <= s <= 1.001 for s in scores)
        assert all(r["neighbor_id"] not in (0, 1) for r in rows)


def test_lsh_pairs_subset_of_bruteforce_threshold(spark, emb):
    """Every LSH-bucketed pair must genuinely clear the cosine threshold."""
    pairs = similarity.lsh_bucketed_pairs(emb, min_cosine=0.2).collect()
    assert all(r["score"] >= 0.199 for r in pairs)


def test_textstats_invariants(spark, docs):
    q = textstats.quality_stats(docs).collect()
    for r in q:
        assert r["n_distinct"] <= r["n_words"]
        assert 0 < r["ttr"] <= 1.0
        assert 0 <= r["stopword_ratio"] <= 1.0
    t = textstats.token_counts(docs).collect()
    for r in t:
        assert r["regex_tokens"] >= 1 and r["ws_tokens"] >= 1


def test_multimodal_decode_stub_plumbing(spark, docs):
    media = multimodal.synth_media_from_documents(docs)
    meta = multimodal.decode_media(media)
    rows = meta.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r["byte_len"] > 0 and len(r["content_hash"]) == 32
        if r["media_type"] == "image":
            assert r["n_frames"] == 1 and r["width"] >= 64
    frames = multimodal.frame_sample(meta, every_n=10)
    fcount = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in fcount)


def test_ivf_topk_consistent_with_bruteforce(spark, emb):
    """IVF results: correct ranks/ordering, and any neighbor IVF shares
    with the exact brute-force top-k carries the identical exact score."""
    qids = [0, 1, 2, 3, 4]
    ivf = similarity.ivf_topk(emb, qids, k=10, nprobe=4).collect()
    per_q = {}
    for r in ivf:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
    brute = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in similarity.brute_force_topk(emb, qids, k=50).collect()
    }
    common = 0
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert brute[key] == r["score"]  # exact same IEEE value
            common += 1
    assert common > 0  # probing must recover some true near neighbors


def test_minhash_degenerate_bucket_never_materializes(spark):
    """A 1M-doc corpus where EVERY doc shares one signature (identical
    text): with the round-2 post-agg cap this materialized a 1M-element
    list in one aggregation buffer before being dropped; the window-count
    pre-filter drops the rows before any list is built. The op must
    return zero pairs (degenerate bucket, not a dup cluster) and not
    blow an aggregation buffer doing so. A small mixed-in set of real
    duplicate groups must still pair up through the same plan."""
    n = 1_000_000
    degenerate = spark.range(n).select(
        F.concat(F.lit("deg_"), F.col("id")).alias("doc_id"),
        F.lit("the same tiny document text").alias("text"),
    )
    # 5 genuine dup groups of 3 docs each; every word carries the group
    # id so no shingle is shared ACROSS groups (within a group the text
    # is identical -> guaranteed same signatures)
    g = (F.col("id") % 5).cast("string")
    word = lambda w: F.concat(F.lit(w), g)  # noqa: E731
    genuine = spark.range(15).select(
        F.concat(F.lit("dup_"), F.col("id")).alias("doc_id"),
        F.concat_ws(
            " ", word("alpha"), word("beta"), word("gamma"), word("delta"), word("eps")
        ).alias("text"),
    )
    pairs = dedup_text.minhash_lsh_candidates(
        degenerate.unionByName(genuine), max_bucket=1024
    ).collect()
    assert all(r["doc_a"].startswith("dup_") for r in pairs)
    assert len(pairs) == 5 * 3  # C(3,2)=3 pairs per group x 5 groups


# ---------- graph / connected components ----------

from file_standardization_etl_spark.operators import graph  # noqa: E402


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a string, doc_b string")


def test_cc_chain_is_transitive(spark):
    """A-B, B-C, C-D is one component labeled by the minimum, even though
    A-C, A-D, B-D were never emitted as pairs."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    got = {r["doc_id"]: r["component"] for r in graph.connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_cc_star_parity_on_adversarial_shapes(spark):
    """large-star/small-star must agree with hash-min on a long path
    (worst case for propagation), a clique, and disjoint mixtures."""
    path = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(20)]
    clique = [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
    e = _edges(spark, path + clique + [("z1", "z2")])
    a = sorted(map(tuple, graph.connected_components(e).collect()))
    b = sorted(map(tuple, graph.connected_components_star(e).collect()))
    assert a == b
    assert ("n20", "n00") in a


def test_cc_on_lsh_pairs_matches_pairwise_closure(spark, docs):
    """Components over real LSH pairs = transitive closure of the pair
    set (python union-find as the in-test oracle)."""
    cand_df = dedup_text.minhash_lsh_candidates(docs)
    pairs = cand_df.collect()
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["doc_a"]), find(r["doc_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["component"]
        for r in graph.connected_components(cand_df).collect()
    }
    assert got == want


def test_cluster_keepers_longest_then_smallest_id(spark):
    docs = spark.createDataFrame(
        [("a", "xx xx"), ("b", "longest text here"), ("c", "same length!!!!!!"), ("d", "tiny")],
        "doc_id string, text string",
    )
    comps = graph.connected_components(
        _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    )
    rows = graph.cluster_keepers(docs, comps).collect()
    assert len(rows) == 1
    # b and c tie at length 17; b wins on id
    assert rows[0]["component"] == "a"
    assert rows[0]["n_docs"] == 4
    assert rows[0]["keeper_doc"] == "b"


# ---------------------------------------------------------------------------
# token-sequence ops (operators/tokenize.py)
# ---------------------------------------------------------------------------


def test_chunk_windows_cover_every_token_with_expected_overlap(spark, docs):
    from file_standardization_etl_spark.operators import tokenize

    one = docs.filter(F.col("doc_id") == 0)
    n_toks = one.select(F.size(F.split("text", " ")).alias("n")).first()["n"]
    rows = tokenize.chunk_tokens(one, max_len=32, stride=24).collect()
    # window c covers absolute token indexes [c*24, c*24+32); every token
    # index 0..n-1 appears, boundary tokens exactly twice
    covered = {}
    for r in rows:
        idx = r["chunk_id"] * 24 + r["pos"]
        covered[idx] = covered.get(idx, 0) + 1
    assert set(covered) == set(range(n_toks))
    for idx, cnt in covered.items():
        in_overlap = any(
            c * 24 + 24 <= idx < c * 24 + 32
            and (c + 1) * 24 < n_toks + 1  # a next window actually starts
            for c in range(r["chunk_id"] + 1)
        )
        assert cnt == (2 if in_overlap else 1), (idx, cnt)


def test_chunk_windows_respect_max_len_and_tail(spark, docs):
    from file_standardization_etl_spark.operators import tokenize

    sizes = (
        tokenize.chunk_tokens(docs, max_len=32, stride=24)
        .groupBy("doc_id", "chunk_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("pos").alias("mx"))
        .collect()
    )
    for r in sizes:
        assert 1 <= r["n"] <= 32
        assert r["mx"] == r["n"] - 1  # pos is dense 0..n-1
    with pytest.raises(ValueError):
        tokenize.chunk_tokens(docs, max_len=0)


def test_vocab_topk_rank_order_and_tie_break(spark, docs):
    from file_standardization_etl_spark.operators import tokenize

    rows = tokenize.vocab_topk(docs, k=10).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    key = [(-r["n_occ"], r["token"]) for r in rows]
    assert key == sorted(key)


def test_hash_split_is_deterministic_and_subset_stable(spark, docs):
    from file_standardization_etl_spark.operators import tokenize

    full = {r["doc_id"]: r["split"] for r in tokenize.hash_split(docs).collect()}
    sub = {
        r["doc_id"]: r["split"]
        for r in tokenize.hash_split(docs.filter(F.col("doc_id") % 3 == 0)).collect()
    }
    # a doc's split never changes when the rest of the corpus disappears
    assert sub == {k: v for k, v in full.items() if k % 3 == 0}
    assert set(full.values()) <= {"train", "val", "test"}
    frac = sum(1 for v in full.values() if v == "train") / len(full)
    assert frac > 0.9  # 98% band, small-sample slack
    with pytest.raises(ValueError):
        tokenize.hash_split(docs, weights={"train": 50, "val": 1})


def test_contamination_pairs_match_bruteforce(spark, docs):
    from file_standardization_etl_spark.operators import tokenize

    n = 3
    pairs = {
        (r["train_doc"], r["eval_doc"]): r["n_shared"]
        for r in tokenize.contamination_pairs(docs, n=n).collect()
    }
    # brute-force recomputation in plain Python
    rows = docs.select("doc_id", "text").collect()
    import hashlib

    def bucket(doc_id):
        h = hashlib.md5(f"split-v1:{doc_id}".encode()).hexdigest()
        return int(h[:4], 16) % 100

    grams = {}
    for r in rows:
        w = r["text"].split(" ")
        grams[r["doc_id"]] = {
            " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
        }
    expect = {}
    for t, tg in grams.items():
        if bucket(t) >= tokenize.TRAIN_PCT:
            continue
        for e, eg in grams.items():
            if bucket(e) < tokenize.TRAIN_PCT:
                continue
            shared = len(tg & eg)
            if shared:
                expect[(t, e)] = shared
    assert pairs == expect
    clean = {r["doc_id"] for r in tokenize.decontaminate(docs, n=n).collect()}
    train = {d for d in grams if bucket(d) < tokenize.TRAIN_PCT}
    assert clean == train - {t for t, _ in expect}


def test_pack_examples_conserves_tokens_and_bounds_overflow(spark, docs):
    from file_standardization_etl_spark.operators import tokenize

    max_len, stride, cap = 32, 24, 64
    ex = tokenize.pack_examples(
        docs, max_len=max_len, stride=stride, capacity=cap
    ).collect()
    total = sum(r["n_tokens"] for r in ex)
    # conservation: packed tokens == sum of chunk lengths
    chunk_total = (
        tokenize.chunk_tokens(docs, max_len=max_len, stride=stride).count()
    )
    assert total == chunk_total
    for r in ex:
        assert r["n_chunks"] >= 1 and r["n_docs"] >= 1
        # a chunk straddling the boundary can overflow by < max_len
        assert r["n_tokens"] < cap + max_len
    # example ids are dense 0..max per shard (offsets are contiguous)
    by_shard = {}
    for r in ex:
        by_shard.setdefault(r["shard"], set()).add(r["example_id"])
    for ids in by_shard.values():
        assert ids == set(range(max(ids) + 1))
    with pytest.raises(ValueError):
        tokenize.pack_examples(docs, max_len=32, capacity=16)


def test_repetition_stats_known_values(spark):
    # "a b a b a b" has 4 trigrams: (a b a), (b a b), (a b a), (b a b)
    # -> n_grams=4, n_distinct=2, max_occ=2, dup_permille=500
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w"), (3, "p q")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textstats.repetition_stats(df, n=3).collect()}
    assert out[1]["n_grams"] == 4
    assert out[1]["n_distinct"] == 2
    assert out[1]["max_occ"] == 2
    assert out[1]["dup_permille"] == 500
    # all-unique doc: 2 trigrams, zero duplication
    assert out[2]["n_grams"] == 2 and out[2]["dup_permille"] == 0
    # doc shorter than n words emits no row (same rule as decontamination)
    assert 3 not in out


def test_mixture_weights_ppm_sums_and_exactness(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "web"), (2, "d e", "web"), (3, "f g h i j", "code")],
        ["doc_id", "text", "source"],
    )
    out = {r["source"]: r for r in tokenize.mixture_weights(df).collect()}
    assert out["web"]["n_docs"] == 2 and out["web"]["n_tokens"] == 5
    assert out["code"]["n_docs"] == 1 and out["code"]["n_tokens"] == 5
    # exact integer halves of a 10-token budget
    assert out["web"]["weight_ppm"] == 500000
    assert out["code"]["weight_ppm"] == 500000


def test_pack_payload_consistent_with_pack_examples(spark, docs):
    """The materialized payload must agree with the assignment-only op on
    every per-example stat, and its buffers stay capacity-bounded."""
    kw = dict(max_len=32, stride=24, capacity=64, n_shards=4)
    stats = {
        (r["shard"], r["example_id"]): (r["n_chunks"], r["n_docs"], r["n_tokens"])
        for r in tokenize.pack_examples(docs, **kw).collect()
    }
    payload = tokenize.pack_payload(docs, **kw).collect()
    got = {
        (r["shard"], r["example_id"]): (r["n_chunks"], r["n_docs"], r["n_tokens"])
        for r in payload
    }
    assert got == stats
    md5s = [r["example_md5"] for r in payload]
    assert all(m and len(m) == 32 for m in md5s)
    # a packed example never exceeds capacity + max_len - 1 tokens
    assert all(r["n_tokens"] <= 64 + 32 - 1 for r in payload)


def test_repetition_stats_degenerate_doc_collapses_mapside(spark):
    """A pathological document (one gram repeated 100k times) must flow
    through the two-level hash agg without materializing per-occurrence
    state anywhere: the (doc, gram) stage collapses map-side to one row."""
    n = 100_000
    df = spark.createDataFrame([(1, " ".join(["x"] * n)), (2, "a b c d")],
                               ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.repetition_stats(df, n=3).collect()}
    assert out[1]["n_grams"] == n - 2
    assert out[1]["n_distinct"] == 1
    assert out[1]["max_occ"] == n - 2
    assert out[1]["dup_permille"] == (n - 3) * 1000 // (n - 2)
    assert out[2]["dup_permille"] == 0


def test_shard_order_is_deterministic_dense_and_salt_sensitive(spark, docs):
    from file_standardization_etl_spark.operators import tokenize

    a = tokenize.shard_order(docs, n_shards=8).collect()
    b = tokenize.shard_order(docs, n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # rerun-stable
    n = docs.count()
    assert len(a) == n
    # positions are dense 1..len(shard) within every shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # EVERY shard populated and roughly balanced — pins the hex-decode
    # shard math (an ascii()-based variant left shards 10-15 of 16
    # permanently empty and doubled 1-6)
    assert set(by_shard) == set(range(8))
    counts = sorted(len(p) for p in by_shard.values())
    assert counts[-1] <= 3 * counts[0]
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # every doc exactly once
    assert len({r["doc_id"] for r in a}) == n
    # a different salt reshuffles (overwhelmingly likely to differ)
    c = tokenize.shard_order(docs, n_shards=8, salt="shuffle-v2").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))
    with pytest.raises(ValueError):
        tokenize.shard_order(docs, n_shards=0)


def test_dup_spans_match_bruteforce_and_survive_collision_gate(spark, docs):
    """dup_spans == a dict-built exact answer (same n/min_docs/k), and
    the hash gate is invisible in the result: broadcast on/off and a
    deliberately collision-heavy variant all yield the identical
    relation — the exact re-aggregate makes the gate collision-proof."""
    from collections import Counter, defaultdict

    n, k = 6, 50
    occ, by_doc = Counter(), defaultdict(set)
    for r in docs.select("doc_id", "text").collect():
        w = r["text"].split(" ")
        for i in range(len(w) - n + 1):
            g = " ".join(w[i : i + n])
            occ[g] += 1
            by_doc[g].add(r["doc_id"])
    want = sorted(
        ((g, len(by_doc[g]), c) for g, c in occ.items() if len(by_doc[g]) >= 2),
        key=lambda t: (-t[2], t[0]),
    )[:k]

    got = [
        (r["gram"], r["n_docs"], r["n_occ"])
        for r in tokenize.dup_spans(docs, n=n, k=k).collect()
    ]
    assert got == want
    got_shuffled = [
        (r["gram"], r["n_docs"], r["n_occ"])
        for r in tokenize.dup_spans(docs, n=n, k=k, broadcast_hot=False).collect()
    ]
    assert got_shuffled == want


def test_strip_dup_spans_match_bruteforce(spark, docs):
    """strip_dup_spans == a dict-built exact answer: mask every
    occurrence of a repeated n-gram except the corpus-global first
    (min (doc_id, pos)); per-doc distinct span/word-position coverage."""
    from collections import defaultdict

    n, k = 6, 200
    occ = defaultdict(list)
    nw = {}
    for r in docs.select("doc_id", "text").collect():
        w = r["text"].split(" ")
        nw[r["doc_id"]] = len(w)
        for i in range(len(w) - n + 1):
            occ[" ".join(w[i : i + n])].append((r["doc_id"], i))
    spans_by_doc, words_by_doc = defaultdict(set), defaultdict(set)
    for g, sites in occ.items():
        if len(sites) < 2:
            continue
        for d, p in sorted(sites)[1:]:
            spans_by_doc[d].add(p)
            words_by_doc[d].update(range(p, p + n))
    want = sorted(
        (
            (d, nw[d], len(spans_by_doc[d]), len(words_by_doc[d]))
            for d in spans_by_doc
        ),
        key=lambda t: (-t[3], t[0]),
    )[:k]

    got = [
        (r["doc_id"], r["n_words"], r["n_spans_masked"], r["n_words_masked"])
        for r in tokenize.strip_dup_spans(docs, n=n, k=k).collect()
    ]
    assert got == want


def test_strip_dup_spans_rewrite_match_bruteforce(spark, docs):
    """strip_dup_spans_rewrite == a dict-built exact rewrite: drop every
    word position covered by a masked (non-keeper) repeated-span
    occurrence, re-join the rest in order."""
    from collections import defaultdict

    n, k = 6, 200
    occ = defaultdict(list)
    words = {}
    for r in docs.select("doc_id", "text").collect():
        w = r["text"].split(" ")
        words[r["doc_id"]] = w
        for i in range(len(w) - n + 1):
            occ[" ".join(w[i : i + n])].append((r["doc_id"], i))
    masked_by_doc = defaultdict(set)
    for g, sites in occ.items():
        if len(sites) < 2:
            continue
        for d, p in sorted(sites)[1:]:
            masked_by_doc[d].update(range(p, p + n))
    want = sorted(
        (
            (
                d,
                len(words[d]),
                len(masked_by_doc[d]),
                " ".join(
                    x for i, x in enumerate(words[d]) if i not in masked_by_doc[d]
                ),
            )
            for d in masked_by_doc
        ),
        key=lambda t: (-t[2], t[0]),
    )[:k]

    got = [
        (r["doc_id"], r["n_words"], r["n_words_masked"], r["clean_text"])
        for r in tokenize.strip_dup_spans_rewrite(docs, n=n, k=k).collect()
    ]
    assert got == want
    # the shuffled fallback is the identical relation
    got_shuffled = [
        (r["doc_id"], r["n_words"], r["n_words_masked"], r["clean_text"])
        for r in tokenize.strip_dup_spans_rewrite(
            docs, n=n, k=k, broadcast_hot=False
        ).collect()
    ]
    assert got_shuffled == want


def test_dup_span_hot_gate_is_measured_not_assumed(spark, docs, monkeypatch):
    """VERDICT r4 #2: the hot-set broadcast must be gated on MEASURED
    size, not a static flag. Forcing the row gate to 0 makes the auto
    path plan the semi-join WITHOUT a broadcast hint (static plan shows
    no BroadcastHashJoin; AQE may still promote at runtime from real
    measured sizes, which is the safe direction), while the default
    constants broadcast the small sf0.001 hot set. Results identical
    either way."""
    # isolate the HINT: the persisted gate side has exact stats, so the
    # planner's own autoBroadcastJoinThreshold would broadcast the tiny
    # test frame with or without it — turn the threshold off so the only
    # broadcast source left is the gate's decision
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tiny = tokenize.dup_spans(docs, n=6, k=20)  # auto, small data
        plan = tiny._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # measured-small -> broadcast hint

        monkeypatch.setattr(tokenize, "BROADCAST_MAX_KEY_ROWS", 0)
        forced = tokenize.dup_spans(docs, n=6, k=20)
        plan = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan  # oversized -> shuffled path
        assert [tuple(r) for r in forced.collect()] == [
            tuple(r) for r in tiny.collect()
        ]
        # strip/rewrite share the same gate helper: the corpus-side mask
        # join must plan shuffled (no hint). Only the top-level join
        # matters — the persisted mask subtree renders its own
        # isFinalPlan=true materialization, where AQE may have promoted
        # a join from RUNTIME-measured sizes (the safe direction).
        fr = tokenize.strip_dup_spans_rewrite(docs, n=6, k=20)
        plan = fr._jdf.queryExecution().executedPlan().toString()
        top = plan.split("InMemoryTableScan")[0]
        assert "SortMergeJoin [doc_id" in plan
        assert "BroadcastHashJoin" not in top
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_persist_bounded_fifo_is_thread_safe(monkeypatch):
    """Concurrent persists never evict below _GATE_CACHE_MAX frames, keep
    exactly that many, and unpersist every other frame exactly once."""
    import sys
    import threading

    from file_standardization_etl_spark.operators import tokenize

    short = []  # cache sizes seen below the bound at an eviction

    class Frame:
        def __init__(self):
            self.unpersists = 0

        def persist(self, level):
            return self

        def sameSemantics(self, other):
            return self is other

        def unpersist(self):
            self.unpersists += 1
            if len(tokenize._GATE_CACHE) < tokenize._GATE_CACHE_MAX:
                short.append(len(tokenize._GATE_CACHE))

    monkeypatch.setattr(tokenize, "_GATE_CACHE", [])
    frames = [Frame() for _ in range(16 * 300)]

    def work(fs):
        for f in fs:
            tokenize.persist_bounded(f)

    threads = [threading.Thread(target=work, args=(frames[i::16],)) for i in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not short
    kept = {id(f) for f in tokenize._GATE_CACHE}
    assert len(kept) == tokenize._GATE_CACHE_MAX
    assert all(f.unpersists == (0 if id(f) in kept else 1) for f in frames)


def test_persist_bounded_keeps_repersisted_plan_cached(spark, monkeypatch):
    """Persisting the same plan again (a re-run of a gated query) must not
    leave a stale twin in the FIFO whose eviction uncaches the live plan."""
    from file_standardization_etl_spark.operators import tokenize

    monkeypatch.setattr(tokenize, "_GATE_CACHE", [])
    try:
        tokenize.persist_bounded(spark.range(10).filter("id > 1"))
        for i in range(tokenize._GATE_CACHE_MAX - 1):
            tokenize.persist_bounded(spark.range(20 + i))
        again = tokenize.persist_bounded(spark.range(10).filter("id > 1"))
        assert again.storageLevel.useMemory
    finally:
        tokenize.clear_gate_caches()
