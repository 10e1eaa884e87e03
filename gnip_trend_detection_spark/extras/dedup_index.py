"""Persisted MinHash/LSH dedup index: build once, probe every shard.

`dedup.lsh_candidate_pairs` self-joins one static corpus — right for a
one-shot dedup pass, wrong for the pipeline that matters at 100 TB:
a corpus that GROWS, where every incoming shard must be deduplicated
against everything already ingested without re-tokenizing, re-hashing,
or re-shuffling the accumulated data. This module materializes the
LSH state once and makes shard dedup an index SCAN:

Layout:
  <path>/meta/    1 row — (n_hashes, rows_per_band, k, hash_impl);
                  probes re-derive the exact hashing recipe from this,
                  so an index can never be probed with mismatched
                  parameters; hash_impl is always 'md5', and a meta
                  naming another hash raises instead of mixing
                  hash families.
  <path>/sigs/    (doc_id, sig array<long>) — one row per indexed doc.
  <path>/bands/   (band_val, doc_id) Hive-partitioned by band id b=N/.

100 TB probe shape — the index is NEVER shuffled:
  * the incoming shard's band rows broadcast into a BroadcastHashJoin
    whose streaming side is the bands scan (collisions stream out;
    zero exchange over the big relation);
  * the resulting candidate id set (bounded by collisions, not corpus
    size) broadcasts into a second BHJ over the sigs scan to fetch
    signatures for verification.
  Both properties are asserted from the physical plan in
  tests/test_dedup_index.py (no SortMergeJoin / no Exchange over the
  index scans). Probe cost is therefore one linear read of the index —
  and on a real cluster the bands relation would be bucketed by
  band_val (`bucketBy` on a warehouse table) to turn that read into a
  bucket-pruned subset; Hive-partitioning by the *band id* keeps the
  layout oracle-friendly here while still letting a band-restricted
  probe (e.g. streaming partial probes) open only its b=N directories.

Verification is signature agreement (fraction of equal minhash
positions), NOT exact Jaccard: the index deliberately stores only the
fixed-width signatures (16 longs/doc), never the shingle sets, so
index storage is O(docs), not O(tokens). est_jaccard is the standard
unbiased MinHash estimate; callers needing exact Jaccard re-read the
matched docs' text (a candidate-bounded lookup, not a corpus pass).

Streaming twin: streaming/dedup.py keeps the same (b, band_val) keys
as in-memory state; this module is the at-rest form of that state —
build/append here, hydrate a stream from it, or vice versa.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gnip_trend_detection_spark.extras.dedup import band_rows, minhash_signatures


# the base hash minhash_signatures uses; written to every index's meta
# so an index built under another hash is refused, never mixed
INDEX_HASH = "md5"


def build_dedup_index(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    n_hashes: int = 16,
    rows_per_band: int = 2,
    k: int = 3,
) -> None:
    """One corpus pass → persisted signature + band state."""
    spark = docs.sparkSession
    spark.createDataFrame(
        [(n_hashes, rows_per_band, k, INDEX_HASH)],
        "n_hashes int, rows_per_band int, k int, hash_impl string",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    sigs = minhash_signatures(
        docs, text_col=text_col, n_hashes=n_hashes, k=k
    ).select("doc_id", "sig")
    sigs.write.mode("overwrite").parquet(f"{path}/sigs")
    band_rows(sigs, rows_per_band, n_hashes=n_hashes).select(
        "b", "band_val", "doc_id"
    ).write.mode("overwrite").partitionBy("b").parquet(f"{path}/bands")


def _read_meta(spark: SparkSession, path: str) -> dict:
    row = spark.read.parquet(f"{path}/meta").first()
    if row is None:
        raise ValueError(f"dedup index at {path!r} has an empty meta table")
    if row["hash_impl"] != INDEX_HASH:
        raise ValueError(
            f"dedup index at {path!r} was built with hash_impl="
            f"{row['hash_impl']!r}; minhash_signatures hashes with "
            f"{INDEX_HASH!r}, and mixing hash families breaks band matching"
        )
    return row.asDict()


def probe_dedup_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    min_agree: int = 0,
) -> DataFrame:
    """(doc_id, match_id, n_agree, est_jaccard): every indexed doc that
    collides with an incoming doc in >= 1 LSH band, with the
    signature-agreement Jaccard estimate attached. ``min_agree`` drops
    candidates agreeing on fewer positions (band collisions guarantee
    >= rows_per_band agreements already).

    The shard side is broadcast TWICE by construction (bands, then the
    candidate set) so the index relations are only ever scanned.
    """
    meta = _read_meta(spark, path)
    sigs_new = minhash_signatures(
        new_docs,
        text_col=text_col,
        n_hashes=meta["n_hashes"],
        k=meta["k"],
    ).select("doc_id", "sig")
    bands_new = band_rows(
        sigs_new, meta["rows_per_band"], n_hashes=meta["n_hashes"]
    ).select(
        F.col("doc_id").alias("__new_id"), "b", "band_val"
    )

    idx_bands = spark.read.parquet(f"{path}/bands")
    # raw collisions, NOT distinct-ed here: a pair colliding in k bands
    # appears k times (k <= n_bands, bounded), and the single
    # dropDuplicates at the end collapses band multiplicity AND the
    # byte-identical sig duplicates a replayed append can leave —
    # one exchange total instead of two
    cand = idx_bands.join(F.broadcast(bands_new), ["b", "band_val"]).select(
        F.col("__new_id").alias("doc_id"), F.col("doc_id").alias("match_id")
    )

    idx_sigs = spark.read.parquet(f"{path}/sigs").select(
        F.col("doc_id").alias("match_id"), F.col("sig").alias("__idx_sig")
    )
    # candidate set is collision-bounded: broadcast it over the sigs
    # scan, then attach the shard signatures (also broadcast-small)
    matched = idx_sigs.join(F.broadcast(cand), "match_id").join(
        F.broadcast(sigs_new.select(F.col("doc_id"), F.col("sig").alias("__new_sig"))),
        "doc_id",
    )
    n_agree = F.aggregate(
        F.zip_with("__idx_sig", "__new_sig", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_hashes = int(meta["n_hashes"])
    return (
        matched.withColumn("n_agree", n_agree)
        .filter(F.col("n_agree") >= min_agree)
        .select(
            "doc_id",
            "match_id",
            "n_agree",
            (F.col("n_agree") / F.lit(float(n_hashes))).alias("est_jaccard"),
        )
        # the probe's ONE keyed exchange: collapses band-collision
        # multiplicity and the byte-identical duplicate sig rows a
        # replayed append can leave — on the candidate-bounded matches,
        # never on the full sigs scan (the index stays shuffle-free)
        .dropDuplicates(["doc_id", "match_id"])
    )


def append_to_index(
    new_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
) -> None:
    """Ingest a (probe-filtered) shard: append its signatures and band
    rows under the SAME hashing recipe. Append-mode parquet — no
    rewrite of existing state; at warehouse scale this is the
    compaction-friendly incremental commit (pair with
    sources/incremental.py's manifest ledger for exactly-once)."""
    spark = new_docs.sparkSession
    meta = _read_meta(spark, path)
    sigs = minhash_signatures(
        new_docs,
        text_col=text_col,
        n_hashes=meta["n_hashes"],
        k=meta["k"],
    ).select("doc_id", "sig")
    # bands BEFORE sigs: the two appends are not one atomic commit, so
    # order them so every partial state degrades gracefully AND a
    # replay of the whole append is idempotent for probes —
    #   * die after bands: the shard is not yet matchable (sig fetch
    #     inner-join drops its collisions); replay re-appends bands
    #     (deduped by the probe's candidate .distinct()) and adds sigs
    #     exactly once;
    #   * sigs-first instead would strand docs invisible to band
    #     probes and make replay DUPLICATE their sig rows.
    # Duplicate sig rows from a post-sigs replay are identical bytes
    # (same recipe -> same signature) and are collapsed by the probe's
    # candidate-bounded dropDuplicates.
    band_rows(sigs, meta["rows_per_band"], n_hashes=meta["n_hashes"]).select(
        "b", "band_val", "doc_id"
    ).write.mode("append").partitionBy("b").parquet(f"{path}/bands")
    sigs.write.mode("append").parquet(f"{path}/sigs")
