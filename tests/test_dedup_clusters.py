"""duplicate_clusters: connected components over near-dup pairs."""

import os
import pytest
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_duplicate_clusters_components(spark):
    """Chain 1-2-3 (path, needs >1 propagation round), clique 10-11-12,
    isolated pair 20-21 — labels must be the component minima."""
    from gnip_trend_detection_spark.extras.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3),          # path
            (10, 11), (10, 12), (11, 12),  # clique
            (20, 21),                # pair
        ],
        "doc_a long, doc_b long",
    )
    rows = {r["doc_id"]: r for r in duplicate_clusters(pairs).collect()}
    assert {d: r["cluster_id"] for d, r in rows.items()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20,
    }
    assert rows[3]["cluster_size"] == 3
    assert rows[12]["cluster_size"] == 3
    assert rows[21]["cluster_size"] == 2
    canon = {d for d, r in rows.items() if r["is_canonical"]}
    assert canon == {1, 10, 20}


def test_duplicate_clusters_long_path(spark):
    """A 9-node path exercises multi-round convergence (diameter 8):
    every node must still land on the global min label."""
    from gnip_trend_detection_spark.extras.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    rows = duplicate_clusters(pairs).collect()
    assert len(rows) == 9
    assert all(r["cluster_id"] == 1 for r in rows)
    assert all(r["cluster_size"] == 9 for r in rows)


def test_lsh_max_band_caps_hot_buckets(spark):
    """A band value shared by B docs yields B(B-1)/2 pairs; max_band
    drops such hot buckets while small buckets survive."""
    from gnip_trend_detection_spark.extras.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    boiler = [(i, "same boilerplate text repeated across many documents here") for i in range(10)]
    pair = [
        (100, "a genuinely unique document about spark shuffles and joins"),
        (101, "a genuinely unique document about spark shuffles and sorts"),
    ]
    docs = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    sigs = minhash_signatures(docs)

    uncapped = lsh_candidate_pairs(sigs, rows_per_band=2)
    assert uncapped.count() >= 45  # the hot clique alone is 10*9/2

    capped = lsh_candidate_pairs(minhash_signatures(docs), rows_per_band=2, max_band=5)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (100, 101) in got          # small bucket survives
    assert all(a >= 100 for a, _ in got)  # boilerplate clique is gone


def test_duplicated_spans_cross_doc_only(spark):
    """A span shared by two docs marks both; a span repeated only
    WITHIN one doc does not count as duplicated."""
    from gnip_trend_detection_spark.extras.dedup import duplicated_spans

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, shared + " iota kappa lmbda mu nu xi omicron pi"),
            # 3: the same 8-gram twice in ONE doc, nowhere else
            (3, "a b c d e f g h " + "a b c d e f g h extra"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in duplicated_spans(docs, n=8).collect()}
    # docs 1 and 2 share exactly the one leading 8-gram
    assert got[1]["dup_grams"] == 1 and got[2]["dup_grams"] == 1
    assert got[1]["n_grams"] == 9
    assert got[1]["dup_frac"] == pytest.approx(round(1 / 9, 6))
    # doc 3's internal repeat is not cross-document duplication
    assert got[3]["dup_grams"] == 0 and got[3]["dup_frac"] == 0.0


def test_source_overlap_matrix(spark):
    """Known trigram inventories: overlap, jaccard, containment, and
    the zero-overlap pair all come out exactly."""
    from gnip_trend_detection_spark.extras.dedup import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "a", "one two three four"),   # grams: {123, 234}
            (2, "b", "one two three"),        # grams: {123}
            (3, "c", "five six seven eight"), # grams: {567, 678}
        ],
        "doc_id long, source string, text string",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap(docs, n=3).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    assert (ab["grams_a"], ab["grams_b"], ab["overlap"]) == (2, 1, 1)
    assert ab["jaccard"] == 0.5 and ab["containment_a"] == 0.5
    ac = got[("a", "c")]
    assert ac["overlap"] == 0 and ac["jaccard"] == 0.0


_MINHASH_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "  spaced   out   tokens   survive   splitting  "),
    (4, "too short"),  # < k tokens: dropped
    (5, "dup dup dup dup dup"),  # repeated shingles
    (6, None),  # NULL text: dropped, no crash
    # NBSP and ideographic space are NOT separators in Java \s+ —
    # the kernel must agree with tokens(), not use str.split()
    (7, "Alpha beta gamma\u00a0delta\u3000epsilon zeta ETA"),
]


def test_minhash_shingles_match_jvm_tokens(spark):
    """The minhash kernel's shingles are the k-joins of the JVM
    extras.text.tokens() output, doc for doc: same lowercasing, same
    ASCII-only whitespace split, same drops (NULL, < k tokens)."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras.dedup import minhash_signatures
    from gnip_trend_detection_spark.extras.text import tokens

    k = 3
    docs = spark.createDataFrame(_MINHASH_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["shingles"]
        for r in minhash_signatures(docs, k=k).collect()
    }
    want = {}
    for r in docs.select("doc_id", tokens(F.col("text")).alias("t")).collect():
        t = r["t"]
        if t is not None and len(t) >= k:
            want[r["doc_id"]] = [
                " ".join(t[i : i + k]) for i in range(len(t) - k + 1)
            ]
    assert got == want
    assert set(got) == {1, 2, 3, 5, 7}
    # NBSP and ideographic space stayed INSIDE tokens
    assert any("\u00a0" in s for s in got[7])
    assert any("\u3000" in s for s in got[7])


def test_minhash_sig_matches_python_rederivation(spark):
    """sig[i] = min over distinct shingles of (a_i * h + b_i) mod P,
    h = the first 4 md5 digest bytes of the shingle, (a_i, b_i) from
    minhash_params — re-derived in pure Python, no numpy."""
    import hashlib

    from gnip_trend_detection_spark.extras.dedup import (
        MINHASH_PRIME,
        minhash_params,
        minhash_signatures,
    )

    docs = spark.createDataFrame(_MINHASH_DOCS, "doc_id long, text string")
    rows = minhash_signatures(docs, n_hashes=8).collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 3, 5, 7}
    params = minhash_params(8)
    for r in rows:
        hs = {
            int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:4], "big")
            for s in r["shingles"]
        }
        want = [min((a * h + b) % MINHASH_PRIME for h in hs) for a, b in params]
        assert r["sig"] == want, r["doc_id"]


def test_set_similarity_join_complete_vs_brute_force(spark):
    """Prefix-filter join returns EXACTLY the brute-force all-pairs
    token-Jaccard >= t set (completeness is the whole point vs LSH) on
    a seeded corpus, across thresholds that exercise the float-ceil
    prefix bound (incl. t*s landing on/near integers)."""
    import itertools
    import random

    from gnip_trend_detection_spark.extras.dedup import set_similarity_join

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for doc_id in range(60):
        n = rng.randint(3, 20)
        rows.append((doc_id, " ".join(rng.sample(vocab, n))))
    # planted near-dups: shared long template with small edits
    tpl = vocab[:10]
    for doc_id in range(60, 70):
        words = tpl + [vocab[10 + (doc_id % 5)]]
        rows.append((doc_id, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sets = {d: frozenset(t.split()) for d, t in rows}
    for t in (0.3, 0.5, 0.9, 10 / 11):
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            j = inter / (len(sets[a] | sets[b]))
            if j >= t:
                want[(a, b)] = round(j, 6)
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in set_similarity_join(df, threshold=t).collect()
        }
        assert got == want, (t, len(got), len(want))


def test_segment_dedup_removes_repeated_spans(spark):
    """Hand-built corpus: a boilerplate 4-token span shared by three
    docs must be removed from all of them; unique spans survive in
    order; a doc that is 100% boilerplate still emits a row with
    clean_text = '' (NULL-preservation rule)."""
    from gnip_trend_detection_spark.extras.dedup import segment_dedup

    boiler = "subscribe to our newsletter"
    rows = [
        (0, boiler + " alpha beta gamma delta"),
        (1, boiler + " epsilon zeta eta theta"),
        (2, boiler + " iota kappa lambda mu"),
        (3, boiler),  # fully boilerplate
        (4, "nu xi omicron pi rho sigma tau upsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in segment_dedup(df, k=4, max_occurrences=2).collect()
    }
    assert len(out) == 5
    # the shared first segment occurs 4x > 2 -> dropped everywhere
    assert out[0]["clean_text"] == "alpha beta gamma delta"
    assert out[1]["clean_text"] == "epsilon zeta eta theta"
    assert out[2]["clean_text"] == "iota kappa lambda mu"
    assert out[3]["clean_text"] == ""
    assert out[3]["n_segments"] == 1 and out[3]["n_kept"] == 0
    # unique doc is untouched, two segments stitched back IN ORDER
    assert out[4]["clean_text"] == "nu xi omicron pi rho sigma tau upsilon"
    assert out[4]["n_segments"] == 2 and out[4]["n_kept"] == 2


def test_segment_dedup_short_tail_segment(spark):
    """Docs whose length is not a multiple of k keep the short trailing
    segment; per-occurrence counting (not per-doc) drives removal."""
    from gnip_trend_detection_spark.extras.dedup import segment_dedup

    # "a b c d | e f" — trailing 2-token segment; repeated WITHIN one
    # doc 3 times counts as 3 occurrences and is removed
    rows = [
        (0, "a b c d e f"),
        (1, "p q r s p q r s p q r s"),  # same segment 3x in ONE doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in segment_dedup(df, k=4, max_occurrences=2).collect()
    }
    assert out[0]["n_segments"] == 2 and out[0]["clean_text"] == "a b c d e f"
    assert out[1]["n_segments"] == 3 and out[1]["n_kept"] == 0
    assert out[1]["clean_text"] == ""


def test_canonical_by_quality_keeps_best(spark):
    """Cluster {1,2,3}: doc 2 has the highest quality -> only doc 2
    keeps; quality tie in cluster {10,11} -> min doc_id wins; doc 99
    (no cluster) is its own singleton canonical."""
    from gnip_trend_detection_spark.extras.dedup import canonical_by_quality

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7), (10, 4), (11, 4), (99, 1)],
        "doc_id long, quality long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    out = {r["doc_id"]: r for r in canonical_by_quality(docs, clusters).collect()}
    assert [out[i]["keep"] for i in (1, 2, 3)] == [False, True, False]
    assert out[2]["cluster_size"] == 3
    assert out[10]["keep"] and not out[11]["keep"]  # tie -> min doc_id
    assert out[99]["keep"] and out[99]["cluster_size"] == 1
    assert out[99]["cluster_id"] == 99


def test_longest_dup_span_islands(spark):
    """Two docs share one contiguous 12-token block (-> 5 consecutive
    duplicated 8-gram positions -> span 12) and one isolated 8-token
    block (span 8, not adjacent): the longest must be 12, not 20, and
    a doc with no cross-doc dup reports 0."""
    from gnip_trend_detection_spark.extras.dedup import longest_dup_span

    block = " ".join(f"s{i}" for i in range(12))
    iso = " ".join(f"t{i}" for i in range(8))
    rows = [
        (0, f"{block} a1 a2 a3 a4 a5 {iso} a6 a7 a8"),
        (1, f"b1 b2 b3 b4 b5 {block} b6 b7 {iso}"),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in longest_dup_span(df, n=8).collect()}
    assert out[0]["longest_span_tokens"] == 12
    assert out[1]["longest_span_tokens"] == 12
    assert out[2]["longest_span_tokens"] == 0


def test_lsh_eval_max_df_cap(spark):
    """lsh_eval's corpus-scale ground-truth bound: with max_df >= the
    observed max shingle doc-frequency the capped result is IDENTICAL
    to the uncapped one; with a binding cap the true-pair set can only
    shrink (capped intersection undercounts, doc sizes stay full), so
    n_true is monotone non-increasing and the candidate count (from
    banding, untouched by the cap) is unchanged."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras.dedup import lsh_eval, minhash_signatures

    texts = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "a completely different document about spark joins"),
        (4, "a completely different document about spark shuffles"),
        (5, "unrelated text with its own words entirely here now"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = minhash_signatures(docs, n_hashes=16, k=3)

    # observed max doc-frequency over distinct shingles
    max_obs = (
        sigs.select(F.explode(F.array_distinct("shingles")).alias("s"))
        .groupBy("s")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )

    base = lsh_eval(sigs, rows_per_band=2).collect()[0]
    same = lsh_eval(sigs, rows_per_band=2, max_df=max_obs).collect()[0]
    assert base.asDict() == same.asDict()
    assert base["n_true"] >= 1  # fixture must actually exercise pairs

    tight = lsh_eval(sigs, rows_per_band=2, max_df=1).collect()[0]
    assert tight["n_true"] <= base["n_true"]
    assert tight["n_cand"] == base["n_cand"]

    # max_df=None path is structurally untouched: no df agg in the plan
    # (the uncapped call above already proved value equality; this
    # pins the "plan unchanged otherwise" contract)
    from gnip_trend_detection_spark.extras import dedup as _d

    import inspect

    src = inspect.getsource(_d.lsh_eval)
    assert "if max_df is not None" in src
