"""Persisted LSH dedup index: a probe must reproduce the one-shot
in-memory candidate set, appends must extend it, and the probe plan
must never shuffle the index relations (broadcast joins only)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    from gnip_trend_detection_spark.sources.tables import load_table

    return load_table(spark, SF, "documents").select("doc_id", "text")


def _twins(corpus, mod, offset):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras import text

    return corpus.filter(F.col("doc_id") % mod == 0).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.array_join(F.slice(text.tokens(F.col("text")), 1, 40), " ").alias("text"),
    )


def test_probe_matches_inmemory_lsh_pairs(spark, corpus, tmp_path):
    """Probing the corpus against its own index must emit exactly the
    in-memory lsh_candidate_pairs set (plus trivial self-matches)."""
    from gnip_trend_detection_spark.extras.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from gnip_trend_detection_spark.extras.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
    )

    idx = str(tmp_path / "lsh")
    build_dedup_index(corpus, idx, rows_per_band=2)

    got = probe_dedup_index(spark, idx, corpus)
    got_pairs = {
        (min(r["doc_id"], r["match_id"]), max(r["doc_id"], r["match_id"]))
        for r in got.collect()
        if r["doc_id"] != r["match_id"]
    }
    want = lsh_candidate_pairs(minhash_signatures(corpus), rows_per_band=2)
    want_pairs = {(r["doc_a"], r["doc_b"]) for r in want.collect()}
    assert got_pairs == want_pairs

    # self-matches agree on every signature position
    selfs = [r for r in got.collect() if r["doc_id"] == r["match_id"]]
    assert selfs and all(r["n_agree"] == 16 for r in selfs)
    assert all(abs(r["est_jaccard"] - 1.0) < 1e-12 for r in selfs)


def test_probe_finds_neardup_shard_and_append_extends(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras.dedup_index import (
        append_to_index,
        build_dedup_index,
        probe_dedup_index,
    )

    idx = str(tmp_path / "lsh")
    build_dedup_index(corpus, idx, rows_per_band=2)

    shard = _twins(corpus, 5, 1_000_000)
    hits = probe_dedup_index(spark, idx, shard, min_agree=4)
    by_new = {r["doc_id"]: r for r in hits.collect()}
    # most truncated twins collide with their source doc
    srcs = [r["doc_id"] for r in shard.collect()]
    matched = [s for s in srcs if s in by_new and by_new[s]["match_id"] == s - 1_000_000]
    assert len(matched) >= len(srcs) * 0.5
    # agreement estimate is calibrated: twin matches agree on >= 4 of 16
    assert all(r["n_agree"] >= 4 for r in by_new.values())

    # ingest the shard, then a re-probe of the SAME shard self-matches
    # against the appended rows with full agreement
    append_to_index(shard, idx)
    again = probe_dedup_index(spark, idx, shard)
    self_rows = [
        r for r in again.collect() if r["match_id"] == r["doc_id"]
    ]
    assert len(self_rows) >= len(srcs) * 0.9
    assert all(r["n_agree"] == 16 for r in self_rows)


def test_append_replay_is_probe_idempotent(spark, corpus, tmp_path):
    """The two appends (bands, then sigs) are not one atomic commit;
    a job that dies after them may be re-run. A full replay of
    append_to_index must leave probe results IDENTICAL to a single
    append — duplicate band rows and byte-identical duplicate sig rows
    all collapse in the candidate-bounded dedup."""
    from gnip_trend_detection_spark.extras.dedup_index import (
        append_to_index,
        build_dedup_index,
        probe_dedup_index,
    )

    idx = str(tmp_path / "lsh_replay")
    build_dedup_index(corpus, idx, rows_per_band=2)
    shard = _twins(corpus, 5, 1_000_000)

    append_to_index(shard, idx)
    once = sorted(
        tuple(r) for r in probe_dedup_index(spark, idx, shard).collect()
    )
    append_to_index(shard, idx)  # replay
    twice = sorted(
        tuple(r) for r in probe_dedup_index(spark, idx, shard).collect()
    )
    assert once == twice


def test_probe_plan_never_shuffles_the_index(spark, corpus, tmp_path):
    """The 100 TB contract: shard bands and the candidate set broadcast;
    the index's bands/sigs scans feed BroadcastHashJoins directly —
    no SortMergeJoin, no Exchange between an index FileScan and its
    join."""
    from gnip_trend_detection_spark.extras.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
    )

    idx = str(tmp_path / "lsh")
    build_dedup_index(corpus, idx, rows_per_band=2)
    shard = _twins(corpus, 7, 2_000_000)
    plan = (
        probe_dedup_index(spark, idx, shard)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the single allowed shuffle is the candidate-set distinct — it
    # moves collision-bounded pairs (already partially deduped
    # map-side), never index rows; both index scans stream straight
    # into BroadcastHashJoins
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_index_built_under_another_hash_is_refused(spark, corpus, tmp_path):
    """minhash_signatures has one base hash (md5); an index whose meta
    names another must raise on probe and on append instead of mixing
    hash families in one band table."""
    from gnip_trend_detection_spark.extras.dedup_index import (
        append_to_index,
        build_dedup_index,
        probe_dedup_index,
    )

    idx = str(tmp_path / "lsh_other_hash")
    small = corpus.limit(20)
    build_dedup_index(small, idx, rows_per_band=2)
    assert spark.read.parquet(f"{idx}/meta").first()["hash_impl"] == "md5"
    spark.createDataFrame(
        [(16, 2, 3, "xxhash64")],
        "n_hashes int, rows_per_band int, k int, hash_impl string",
    ).write.mode("overwrite").parquet(f"{idx}/meta")

    with pytest.raises(ValueError, match="xxhash64"):
        probe_dedup_index(spark, idx, small)
    with pytest.raises(ValueError, match="xxhash64"):
        append_to_index(small, idx)
