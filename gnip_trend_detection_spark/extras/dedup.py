"""Deduplication operators for training-data pipelines.

Exact (content-hash groupBy), MinHash+LSH (shingle → 16 hash families
→ banded bucket equi-join → verified Jaccard), and SimHash-64.

Scale shape: everything is hash-groupBy / equi-join — the LSH
candidate join shuffles on (band, band_value) buckets, never comparing
all pairs; verified Jaccard runs only on candidates. At 100 TB this is
the standard near-dup sweep: linear scans + bucket joins, skew bounded
by bucket size (hot buckets can be salted or capped).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gnip_trend_detection_spark.extras.text import tokens
from gnip_trend_detection_spark.functions.parallel import ensure_map_parallelism


def _expansion_width(df: DataFrame) -> int | None:
    """Width for the pinned band-join exchanges, or None to skip the
    pin: the input's Catalyst byte estimate / SPARK_GRAFT_BAND_TASK_BYTES
    (default 128 KB) clamped to [1, spark.sql.shuffle.partitions], and
    None when the estimate is under SPARK_GRAFT_BAND_PIN_MIN_BYTES
    (default 1 MB).

    The band expansion / pair dedupe / verify stages are CPU-QUADRATIC
    in bucket size but tiny in BYTES, so sizing them by their own
    shuffle bytes (what AQE does) serializes them at scale: on the 10x
    sf0.1 replica (bands est ~2.8 MB) the whole expansion coalesced
    onto 2 equal 5.7 s tasks. But the pin is ~4 extra stage boundaries
    — pre-pin, the sf0.1 plan runs the band join as a pure broadcast
    join with ZERO shuffles of the bands relation — and at fixture
    scale that stage overhead is the whole cost: an unconditional pin
    measured +0.7-1.4 s per LSH query at sf0.1 on local[32] while the
    expansion's total CPU is well under a second. So the pin engages
    only when the byte estimate says the quadratic work can use the
    width (guide §2.2: derive partitioning from the input, never pin a
    constant tuned for one deployment): sf0.1 (~280 KB) → no pin, the
    10x replica → ~22 tasks (the measured knee where the expansion
    stops straggling), cluster scale → the clamp binds, giving exactly
    the width the planner's own exchange would use. The 128 KB unit is
    deliberately ~32x smaller than the session's advisory partition
    size because the per-byte CPU cost of these stages is that much
    higher than a byte-bound shuffle's; both knobs are env-
    parameterized for deployments whose docs-per-byte differ."""
    spark = df.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    unit = int(os.environ.get("SPARK_GRAFT_BAND_TASK_BYTES", str(128 * 1024)))
    min_bytes = int(
        os.environ.get("SPARK_GRAFT_BAND_PIN_MIN_BYTES", str(1024 * 1024))
    )
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return cap
    if est < min_bytes:
        return None
    return max(1, min(cap, (est + unit - 1) // unit))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group identical content by md5; keep the min doc_id as canonical."""
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(toks: Column, k: int = 3) -> Column:
    """Word k-shingles joined by single spaces."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j - 1) for j in range(k)]),
    )


MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the affine hash families
    h_i(x) = (a_i * x + b_i) mod P. a < 2^31 keeps a*x + b < 2^63
    (no 64-bit overflow for x < 2^32). Shared with the DuckDB oracle."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, 2**31), rnd.randrange(0, 2**31)) for _ in range(n_hashes)
    ]


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(doc_id, shingles, sig): ONE md5 base hash per shingle (first 4
    digest bytes as a 32-bit int, reproduced by the DuckDB oracle), then
    ``n_hashes`` affine families (a_i*h + b_i) mod P — the standard
    universal-hashing MinHash. Docs with NULL text or fewer than k
    tokens are dropped (no shingle support).

    One Arrow-batched kernel: per batch, md5 each DISTINCT shingle once
    (digest cache carried across batches — shingle distribution is
    Zipfian, like simhash64's token cache) and collapse all families to
    one (families × shingles) broadcast + row-min. Int64 throughout:
    a < 2^31 keeps a·h + b < 2^63 (no overflow). Zero shuffle.
    Tokens are extras.text.tokens()'s: lowercase, split on Java's
    ASCII-only \\s+ class."""
    import numpy as np
    import pandas as pd

    params = minhash_params(n_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    def gen(batches):
        import hashlib
        import re

        # Java \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.split()
        # also splits on unicode whitespace (\xa0, 　, ...), which
        # would silently break agreement with tokens() and the oracle
        # on non-ASCII corpora — split with the exact same class.
        ws = re.compile("[ \t\n\x0b\f\r]+")
        h32: dict[str, int] = {}
        for pdf in batches:
            out_id, out_sh, out_sig = [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                if not isinstance(txt, str):
                    continue
                toks = [t for t in ws.split(txt.lower()) if t]
                if len(toks) < k:
                    continue
                shs = [
                    " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                ]
                vals = []
                for s in set(shs):
                    v = h32.get(s)
                    if v is None:
                        v = int.from_bytes(
                            hashlib.md5(s.encode("utf-8")).digest()[:4], "big"
                        )
                        h32[s] = v
                    vals.append(v)
                hv = np.array(vals, dtype=np.int64)
                sig = ((A * hv + B) % MINHASH_PRIME).min(axis=1)
                out_id.append(doc_id)
                out_sh.append(shs)
                out_sig.append(sig.tolist())
            # explicit dtypes: an all-filtered batch would otherwise
            # produce empty float64 columns Arrow can't cast to
            # list<string>/list<long>
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "shingles": pd.Series(out_sh, dtype="object"),
                    "sig": pd.Series(out_sig, dtype="object"),
                }
            )

    # local small-file scans arrive as 1-2 splits, serializing the
    # tokenize+hash map work; no-op on well-split inputs
    return ensure_map_parallelism(docs).select("doc_id", text_col).mapInPandas(
        gen, "doc_id long, shingles array<string>, sig array<long>"
    )


def band_rows(
    sigs: DataFrame, rows_per_band: int = 2, n_hashes: int = 16
) -> DataFrame:
    """(doc_id, b, band_val): one row per LSH band per document. Band b
    joins sig rows [b*rows_per_band, (b+1)*rows_per_band) with ':'
    (unambiguous for the integer signatures). Shared by the batch
    candidate join and the streaming near-dup state keys — identical
    bucketing by construction."""
    n_bands = n_hashes // rows_per_band

    def band_val(b: Column) -> Column:
        return F.concat_ws(
            ":",
            *[
                F.get(F.col("sig"), b * rows_per_band + j).cast("string")
                for j in range(rows_per_band)
            ],
        )

    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(b.alias("b"), band_val(b).alias("band_val")),
            )
        ).alias("band"),
    ).select(
        "doc_id",
        F.col("band.b").alias("b"),
        F.col("band.band_val").alias("band_val"),
    )


_AUTO_WIDTH = "auto"


def band_collision_pairs(
    sigs: DataFrame,
    rows_per_band: int = 2,
    max_band: int | None = None,
    out_cols: tuple[str, str] = ("doc_a", "doc_b"),
    n_parts: int | None | str = _AUTO_WIDTH,
) -> DataFrame:
    """Distinct (a < b) band-collision pairs — the ONE candidate
    generator both lsh_candidate_pairs and lsh_eval call, so the
    bucketing they report on can never drift apart (ADVICE r06).

    The band self-join expansion and the pair dedupe are CPU-QUADRATIC
    in bucket size but tiny in BYTES (two longs per pair), so AQE's
    byte-based partition coalescing serializes them: measured on a
    10x sf0.1 replica, the whole expansion stage coalesced onto 2
    tasks of 5.7 s each — p50 == max, i.e. under-parallelism, NOT key
    skew (the §2.5 salting question answered by measurement: hash
    partitioning spreads band buckets fine; `max_band` stays the
    production lever for boilerplate buckets). Both relations are
    therefore explicitly repartitioned BY KEY — user-specified
    partitioning that AQE never coalesces — to a width DERIVED FROM
    THE INPUT SIZE (`_expansion_width`: bands' Catalyst byte estimate
    / 128 KB, clamped to shuffle.partitions), and NOT AT ALL when the
    estimate is fixture-small (the pin is ~4 extra stage boundaries;
    below ~1 MB of band rows the plan's natural zero-shuffle broadcast
    join beats any width — measured +0.7-1.4 s per query at sf0.1).
    At cluster scale the clamp binds (shuffle.partitions is 2-3x total
    cores, session.py — exactly what the planner's exchange would
    use). The pinned pair shuffle carries keys, not payloads (§8).

    ``n_parts``: the pin width — pass the value probed from the
    UNPERSISTED signature plan (callers that persist first must do
    this: an unmaterialized InMemoryRelation reports the Long.MaxValue
    default estimate, which forces the conservative full-width pin).
    Default "auto" probes this function's own input."""
    bands = band_rows(sigs, rows_per_band)
    if n_parts is _AUTO_WIDTH:
        n_parts = _expansion_width(bands)
    if n_parts is not None:
        bands = bands.repartition(n_parts, "b", "band_val")
    if max_band is not None:
        bn = F.count(F.lit(1)).over(Window.partitionBy("b", "band_val"))
        bands = bands.withColumn("__bn", bn).filter(F.col("__bn") <= max_band).drop(
            "__bn"
        )
    a = bands.alias("a")
    bb = bands.alias("bb")
    ca, cb = out_cols
    pairs = a.join(
        bb,
        (F.col("a.b") == F.col("bb.b"))
        & (F.col("a.band_val") == F.col("bb.band_val"))
        & (F.col("a.doc_id") < F.col("bb.doc_id")),
    ).select(F.col("a.doc_id").alias(ca), F.col("bb.doc_id").alias(cb))
    if n_parts is not None:
        # partitioning by the FIRST pair column alone still satisfies
        # the dedupe's clustering requirement (equal pairs co-locate),
        # keeps the distinct at n_parts tasks, and pre-partitions for
        # a downstream join on that column
        pairs = pairs.repartition(n_parts, ca)
    return pairs.distinct()


def lsh_candidate_pairs(
    sigs: DataFrame, rows_per_band: int = 2, max_band: int | None = None
) -> DataFrame:
    """Banded LSH: equi-join on (band, concatenated band rows) —
    candidates are pairs colliding in >= 1 band, with verified Jaccard
    over distinct shingles attached (exact i/(na+nb-i)).

    ``max_band`` caps band-bucket size: a boilerplate band value shared
    by B docs contributes B(B-1)/2 within-bucket pairs, so one hot
    band can go quadratic at corpus scale — the same skew failure (and
    the same window-count cap fix) as ngram_jaccard_pairs' fingerprint
    buckets. Default None keeps exact reference semantics; set it on
    real corpora where boilerplate exists.

    The signature/shingle relation feeds four plan branches (bands,
    both sides of the intersection join, sizes); persisting it stops
    Spark's lineage recompute from re-tokenizing and re-hashing the
    corpus once per branch — at 100 TB this intermediate is exactly
    what you'd checkpoint to storage before the self-join."""
    # probe the pin width BEFORE persisting: an unmaterialized
    # InMemoryRelation reports the Long.MaxValue default estimate,
    # which would force the conservative full-width pin at any scale
    n_parts = _expansion_width(sigs)
    sigs = sigs.persist()
    cand = band_collision_pairs(sigs, rows_per_band, max_band, n_parts=n_parts)

    # verified Jaccard over row-local DISTINCT shingle arrays (already
    # materialized in sigs): array_intersect on the joined pair beats
    # exploding every shingle row through a double join — same move as
    # ngram_jaccard_pairs, candidates are bucket-bounded and few
    sh = sigs.select(
        "doc_id", F.array_distinct("shingles").alias("sh")
    ).withColumn("sz", F.size("sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    half = cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
    if n_parts is not None:
        # the per-pair array_intersect is the same CPU-heavy/byte-light
        # shape as the expansion above: pin the second join's input
        # partitioning so the verify work stays n_parts-wide too
        half = half.repartition(n_parts, "doc_b")
    return (
        half.join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa.sh", "sb.sh")).alias("i"),
            F.col("sa.sz").alias("na"),
            F.col("sb.sz").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
        )
    )


def lsh_eval(
    sigs: DataFrame,
    rows_per_band: int = 2,
    t_num: int = 1,
    t_den: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Quality evaluation of the banded-LSH sweep against exact ground
    truth: band recall and candidate precision at true Jaccard >=
    t_num/t_den — the measurement a pipeline owner runs before
    trusting LSH parameters (n_hashes, rows_per_band) on a new corpus.

    Ground truth needs NO all-pairs scan: any pair with Jaccard > 0
    shares at least one shingle, so exact pairs come from the exploded
    distinct-shingle equi-join (one keyed shuffle; hot-shingle skew is
    the same failure mode as ngram fingerprint buckets — evaluate on a
    sample, or cap shingle doc-frequency, at corpus scale). The
    threshold compare is integer cross-multiplication
    (t_den·i >= t_num·(sa+sb−i)) — no float at the decision boundary.

    Returns ONE row: (n_true, n_cand, n_hit, recall, precision) where
    n_cand counts banding candidates (pre-verify) and n_hit their
    overlap with ground truth. All three counts come from ONE job: the
    true and candidate pair sets union into a tagged relation, one
    (pair)-keyed agg marks membership, one scalar agg counts — the
    naive three-`.count()` version ran the shingle self-join AND the
    banding sweep twice each (measured 7.8s → this shape at sf0.1).

    EAGER by design: the single counts job runs inside this call so
    the persisted sigs relation (read by both the ground-truth and
    banding branches) is unpersisted deterministically before
    returning. The earlier localCheckpoint variant left truncated-
    lineage blocks pinned in executor storage until driver GC — in a
    long-lived session repeated calls accumulated storage and swung
    this query's wall time 6s → 19s.

    max_df — the corpus-scale bound on the ground-truth join: shingles
    whose document frequency exceeds it are dropped from the shared-
    shingle join (a shingle in df docs contributes O(df^2) pairs, so
    the join is bounded by max_df * n_shingle_rows instead of the
    square of the hottest key). Doc sizes stay FULL, so the capped
    intersection only UNDERCOUNTS: the capped true-pair set is a
    subset of the exact one (conservative recall denominator). With
    max_df >= the observed max doc frequency the result is exactly
    the uncapped one, and with max_df=None the plan is untouched —
    both pinned by tests/test_dedup_clusters.py::test_lsh_eval_max_df_cap.
    """
    spark = sigs.sparkSession
    # width probe before persist — see band_collision_pairs
    n_parts = _expansion_width(sigs)
    sigs = sigs.persist()
    sh = sigs.select(
        "doc_id", F.array_distinct("shingles").alias("sh")
    ).withColumn("sz", F.size("sh"))
    shd = sh.select("doc_id", "sz", F.explode("sh").alias("s"))
    if max_df is not None:
        # drop HOT shingles (df > cap) via anti-join: the hot set is
        # small by construction (<= n_rows/max_df keys), AQE picks the
        # broadcast side at runtime; rare shingles — the ones that
        # actually witness near-dup pairs — are untouched
        hot = (
            shd.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
        )
        shd = shd.join(hot, "s", "left_anti")
    # Single shared-shingle equi-join + grouped count: ONE keyed
    # shuffle. A PPJoin-style doc-frequency prefix filter (Xiao et
    # al., WWW'08) was measured here and REMOVED: on this near-dup
    # corpus it cut raw pairs only 2.9x (dup twins share rare
    # shingles, so rarity ordering can't prune them) while adding
    # three shuffles (df agg, per-doc window, distinct) — net slower.
    # At corpus scale the hot-shingle hazard is instead handled the
    # same way as ngram fingerprint buckets: cap shingle doc-frequency
    # or evaluate on a sample (recall/precision are estimates of a
    # corpus property; a uniform doc sample is unbiased for them).
    # NOTE (r07, measured): unlike the band join, this self-join must
    # NOT pin its partitioning by key. Shingle doc-frequencies are
    # genuinely skewed (hot shingles), and the per-key expansion is
    # df^2, so AQE's skew-join splitting on the ENSURE_REQUIREMENTS
    # exchanges is what keeps the hot keys from serializing: pinning
    # `shd.repartition(n, "s")` here (the band_collision_pairs move)
    # disabled that and tripled the 10x-replica time (27.6s -> 85.6s).
    a = shd.alias("a")
    b = shd.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truep = inter.filter(
        F.lit(t_den) * F.col("i") >= F.lit(t_num) * (F.col("sa") + F.col("sb") - F.col("i"))
    ).select(F.col("da").alias("pa"), F.col("db").alias("pb"))
    # candidate branch: band collisions only. n_cand/n_hit count
    # PRE-verify pairs, so lsh_candidate_pairs' verified-Jaccard join
    # (two sigs-side hash joins + an array_intersect per pair) would
    # compute columns this query immediately discards — and an inner
    # join's multiplicity can't be pruned by the optimizer, so those
    # joins stay in the plan unless we skip them at build time
    # (guide §1.2 step 1: don't compute things you throw away).
    # Same bucketing by construction: the SHARED band_collision_pairs
    # helper is the one candidate generator (ADVICE r06).
    cand = band_collision_pairs(
        sigs, rows_per_band, out_cols=("pa", "pb"), n_parts=n_parts
    )
    tagged = truep.select(
        "pa", "pb", F.lit(1).alias("__t"), F.lit(0).alias("__c")
    ).unionByName(
        cand.select("pa", "pb", F.lit(0).alias("__t"), F.lit(1).alias("__c"))
    )
    marked = tagged.groupBy("pa", "pb").agg(
        F.max("__t").alias("__t"), F.max("__c").alias("__c")
    )
    counts = marked.agg(
        F.coalesce(F.sum("__t"), F.lit(0)).cast("long").alias("n_true"),
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_cand"),
        F.coalesce(F.sum(F.col("__t") * F.col("__c")), F.lit(0))
        .cast("long")
        .alias("n_hit"),
    )
    # the ONE eager job; then release the persisted signature blocks
    row = counts.collect()[0]
    sigs.unpersist()
    out = spark.createDataFrame(
        [(row["n_true"], row["n_cand"], row["n_hit"])],
        "n_true long, n_cand long, n_hit long",
    )
    # ratios rounded ENGINE-side (HALF_UP like every query output), not
    # with Python's half-even round() — the r02 lesson about mixing
    # rounding conventions at hash boundaries
    return out.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("n_hit") / F.col("n_true"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0,
            F.round(F.col("n_hit") / F.col("n_cand"), 6),
        ).alias("precision"),
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs → one canonical
    doc per cluster: (doc_id, cluster_id, cluster_size, is_canonical),
    cluster_id = min doc_id in the component. The step a training-data
    pipeline runs after pair finding (LSH / ngram / cosine) to actually
    DROP duplicates while keeping one representative.

    Min-label propagation: each round every doc takes the min of its
    own label and its neighbors' labels — one equi-join + hash
    aggregate per round, converging in O(component diameter) rounds
    (near-dup clusters are near-cliques, so 2-3 in practice; truncation
    chains give short paths). Early-stops on a fixpoint check. Each
    round ends in localCheckpoint: persist alone keeps the LOGICAL plan
    growing (round N's plan embeds all prior joins; analysis time goes
    exponential — a 9-node path timed out), while checkpointing makes
    every round plan against a materialized relation. On a cluster
    prefer reliable checkpoint() to survive executor loss. The join is
    always keyed by doc id, so each round is one co-partitioned
    shuffle. Only docs appearing in >= 1 pair are emitted (singletons
    are their own cluster trivially).
    """
    # both edge directions reference `pairs`, but the union runs as ONE
    # job and the pair sweep ends in an exchange, so Catalyst's
    # ReuseExchange shares it across the branches — persisting here was
    # measured ~0.5s SLOWER at sf0.1 (materialization cost, no reuse win)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        # EAGER on purpose: round 1 reads edges from two independent
        # stages (the neighbor side and the label side) — left lazy,
        # both race to compute the same un-materialized subtree
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=False)  # round 1's job reads cached edges
    )
    prev = None
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy(F.col("src").alias("nid"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # carry a per-row CHANGED flag through the update join so the
        # fixpoint check reads the SAME checkpointed relation. The
        # checkpoint is LAZY and the fixpoint probe is a full-pass
        # aggregate, so ONE job per round both materializes the new
        # labels and returns the changed count (the old eager-
        # checkpoint + filter/limit/count pair was two jobs per round;
        # re-measured interleaved r07 after the r06 driver flagged a
        # regression: lazy+sum 1.66s vs eager+limit 1.80s min-of-5 at
        # sf0.1 — the one-job shape stands). The flag is a BOOLEAN
        # instead of carrying the old label column: the checkpoint
        # blocks are corpus-proportional at scale, so each row stores
        # 1 byte of probe state rather than another 8-byte id (§2.3
        # narrower types). Previous round's blocks freed once consumed.
        stepped = (
            labels.join(nbr, labels["doc_id"] == nbr["nid"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
                (
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                    < F.col("cluster_id")
                ).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.agg(
            F.sum(F.col("chg").cast("long")).alias("c")
        ).first()["c"]
        if prev is not None:
            prev.unpersist()
        prev = stepped
        labels = stepped.select("doc_id", "cluster_id")
        if not changed:
            break
    size_w = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return labels.select(
        "doc_id",
        "cluster_id",
        size_w.cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", n: int = 3, max_bucket: int = 20
) -> DataFrame:
    """Character n-gram Jaccard for candidate pairs sharing a
    rolling-hash fingerprint bucket (extras.text.fingerprint) —
    min-hash collision ⇒ likely shared content, so the quadratic
    verify runs only inside buckets (equi-join, never all pairs).

    ``max_bucket`` drops pathological hot buckets (boilerplate minima
    shared by hundreds of docs) whose within-bucket pair count would
    go quadratic — the skew cap measured necessary at sf0.1, where one
    templated bucket held 342 docs (353k pairs)."""
    from pyspark.sql import Window

    from gnip_trend_detection_spark.extras.text import fingerprint

    fp = fingerprint(docs, text_col)
    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
    fp = (
        fp.withColumn("__bn", bucket_n)
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
        .persist()  # both sides of the candidate self-join
    )
    a, b = fp.alias("a"), fp.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .persist()
    )
    # n-gram sets are only needed for docs that appear in a candidate
    # pair — the semi-join prunes the explode+distinct to that subset
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )

    # per-doc DISTINCT gram set as a row-local array: array_distinct
    # replaces the old explode+distinct (which shuffled every gram row
    # through two joins). Candidates are bucket-capped and few, so the
    # pairwise set intersection is array_intersect on joined arrays —
    # two small-side joins instead of a gram-row double shuffle.
    lt = F.lower(F.col(text_col))
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("lt") - (n - 1)),
            lambda i: F.substring(F.col("lt"), i, n),
        )
    )
    grams = (
        docs.select("doc_id", lt.alias("lt"))
        .join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .filter(F.length("lt") >= n)
        .select("doc_id", gram_arr.alias("grams"))
        .withColumn("sz", F.size("grams"))
        .persist()  # feeds both sides of the pair join
    )
    ga, gb = grams.alias("ga"), grams.alias("gb")
    # candidate docs all carry >= 8 chars (fingerprint precondition), so
    # every pair side has a gram row and inner joins lose nothing
    return (
        cand.join(ga, F.col("ga.doc_id") == F.col("doc_a"))
        .join(gb, F.col("gb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga.grams", "gb.grams")).alias("i"),
            F.col("ga.sz").alias("sa"),
            F.col("gb.sz").alias("sb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("i").cast("double") / (F.col("sa") + F.col("sb") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
    )


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over token md5s weighted by occurrence count,
    emitted as a 64-char '0'/'1' string (MSB-first per hex nibble —
    bit p lives in digest nibble p//4 at in-nibble position p%4).

    SimHash is a per-document map — no cross-document state — so the
    whole computation runs in ONE shuffle-free mapInPandas stage.
    Relational explode/agg formulations were measured 2-4x slower at
    sf0.1 (shuffle + codegen overhead for what is row-local
    arithmetic), and this shape scales as a pure map with zero
    exchange.

    The token hashing is batch-vectorized (r02 fix: the old inner loop
    md5'd every distinct token PER ROW): each Arrow batch builds one
    vocabulary of its distinct tokens, md5s each new token exactly once
    into a ±1 bit-row of a (vocab x 64) matrix (sign rows cached across
    batches — natural-language vocab is Zipfian, so the cache hit rate
    climbs fast), and each document's 64 signed sums collapse to a
    single weights @ signs matmul."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    def sh(batches):
        import hashlib

        signs: dict[str, np.ndarray] = {}  # token -> (64,) int64 of ±1

        def sign_row(tok: str) -> np.ndarray:
            row = signs.get(tok)
            if row is None:
                d = hashlib.md5(tok.encode("utf-8")).digest()[:8]
                bits = np.unpackbits(np.frombuffer(d, dtype=np.uint8)).astype(
                    np.int64
                )
                row = 2 * bits - 1
                signs[tok] = row
            return row

        for pdf in batches:
            counters = [
                Counter(t for t in s.lower().split() if t) for s in pdf[text_col]
            ]
            vocab: dict[str, int] = {}
            for c in counters:
                for tok in c:
                    if tok not in vocab:
                        vocab[tok] = len(vocab)
            S = np.empty((max(len(vocab), 1), 64), dtype=np.int64)
            for tok, i in vocab.items():
                S[i] = sign_row(tok)
            out = []
            for c in counters:
                if not c:
                    out.append("0" * 64)
                    continue
                idx = np.fromiter((vocab[t] for t in c), dtype=np.int64, count=len(c))
                w = np.fromiter(c.values(), dtype=np.int64, count=len(c))
                acc = w @ S[idx]
                out.append("".join("1" if a > 0 else "0" for a in acc))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return docs.select("doc_id", text_col).mapInPandas(
        sh, "doc_id long, simhash string"
    )


def _span_keys(toks: Column, n: int) -> Column:
    """One xxhash64 key per word ``n``-gram position of ``toks`` (size
    >= n): the JVM hash of the token slice itself — no string concat,
    no digest. The key is a pure internal join key, so every span
    operator's OUTPUT is invariant under any injective hash and the
    DuckDB oracles group by gram content instead (collision limit:
    see duplicated_spans)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.xxhash64(F.slice(toks, i + 1, n)),
    )


def duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Exact-substring duplication signal at word-span granularity
    (Lee et al. 2022, arXiv:2107.06499: spans repeated across a corpus
    are memorization/dedup targets): for every document, the count and
    fraction of its word ``n``-gram positions whose span also occurs
    in at least one OTHER document. Within-doc repeats alone don't
    count — the signal is cross-document duplication.

    Scale shape: spans are hashed BEFORE the shuffle so exchanges
    carry fixed-width keys, not 8-word strings. One explode feeds two
    aggregations — distinct-doc counts per span (map-side combined)
    and per-doc duplicated-position counts via an equi-join against
    the (typically tiny) duplicated-span set — so the plan is
    explode -> two keyed shuffles, never all-pairs. The exploded
    relation is persisted: one corpus scan, both consumers.

    Span keys are ``_span_keys``' xxhash64 over the raw token slice
    (an md5(concat_ws(...)) key spent most of its CPU building and
    digesting 8-word strings per position — measured ~2x end-to-end).
    Stated limit: 64-bit keys start colliding around 2^32 distinct
    spans, and a collision merges two spans (~1e-4 relative undercount
    at 100 TB corpus sizes).

    Returns (doc_id, n_grams, dup_grams, dup_frac) for every doc with
    at least ``n`` tokens.
    """
    t = (
        docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= n)
    )
    grams = _span_keys(F.col("toks"), n)
    g = t.select("doc_id", F.explode(grams).alias("g")).persist()
    dup = (
        g.dropDuplicates(["doc_id", "g"])
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dup_counts = (
        g.join(dup, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_grams"))
    )
    total = F.col("n_grams").cast("double")
    return (
        t.select("doc_id", (F.size("toks") - n + 1).cast("long").alias("n_grams"))
        .join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("dup_grams"), F.lit(0).cast("long")).alias("dup_grams"),
            F.round(
                F.coalesce(F.col("dup_grams"), F.lit(0).cast("long")) / total,
                round_digits,
            ).alias("dup_frac"),
        )
    )


def source_overlap(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    source_col: str = "source",
    round_digits: int = 6,
) -> DataFrame:
    """Cross-source n-gram overlap matrix — the corpus-audit view of
    inter-source duplication/leakage (how much of source A's distinct
    word ``n``-gram inventory also appears in source B). Feeds mixing
    decisions: two sources with high containment double-count the
    same text, so their mixing weights overlap.

    Scale shape: the heavy relation is (source, gram) distinct pairs —
    ONE explode + dedupe keyed on a fixed-width hash (``_span_keys``;
    the hash never reaches the output, so the overlap counts are
    hash-choice-invariant — same argument and same collision caveat
    as duplicated_spans). Pair counting
    groups by gram and expands the per-gram source list into ordered
    pairs; that list is bounded by the number of sources (small by
    construction), so the expansion is O(shared grams * sources^2)
    worst case, never corpus x corpus. The full matrix (zero-overlap
    pairs included) comes from a broadcast-sized source-size cross.

    Returns (source_a, source_b, grams_a, grams_b, overlap, jaccard,
    containment_a) for every unordered source pair a < b.
    """
    t = (
        docs.select(F.col(source_col).alias("source"),
                    tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= n)
    )
    grams = _span_keys(F.col("toks"), n)
    # ONE shuffle of the exploded gram stream (by g) carries both
    # downstream aggregations: collect_set dedupes (source, g) pairs
    # with map-side partial sets — the old dropDuplicates + regroup
    # shape shuffled the stream by (source, g) and then shuffled the
    # whole distinct relation AGAIN by g (guide §2.3/§2.4; the r07
    # fusion). Per-source gram inventories fall out of the same
    # relation: |{(s, g)}| = Σ_g |sources(g)|, so sizes come from
    # exploding the per-gram sets instead of a second corpus-derived
    # aggregate. The persisted relation is one row per distinct gram
    # (bounded by the old distinct-pairs relation); released by the
    # caller per the session.release_cached lifecycle contract.
    gby = (
        t.select("source", F.explode(grams).alias("g"))
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .persist()
    )
    sizes = (
        gby.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    combos = F.flatten(
        F.transform(
            F.col("ss"),
            lambda a, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    inter = (
        gby.select(F.explode(combos).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    a = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("grams_a"))
    b = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("grams_b"))
    allp = a.join(b, F.col("source_a") < F.col("source_b"))
    ov = F.coalesce(F.col("overlap"), F.lit(0).cast("long"))
    return (
        allp.join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            ov.alias("overlap"),
            F.round(
                ov / (F.col("grams_a") + F.col("grams_b") - ov).cast("double"),
                round_digits,
            ).alias("jaccard"),
            F.round(ov / F.col("grams_a").cast("double"), round_digits).alias(
                "containment_a"
            ),
        )
    )


def set_similarity_join(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) —
    every pair with J(A, B) >= threshold, guaranteed complete, WITHOUT
    the all-pairs product and WITHOUT LSH's false negatives. This is
    the exactness rung above minhash/LSH dedup: same candidate-then-
    verify shape, but the candidate set provably contains every true
    pair.

    Prefix-filter lemma: order all tokens by one GLOBAL total order
    (document frequency ascending, term as tiebreak — rarest first,
    which minimizes candidates). If J(A, B) >= t, the first
    p(x) = |x| - ceil(t * |x|) + 1 tokens of each side (under that
    order) must intersect: removing p(A) tokens from A leaves
    |A| - p(A) = ceil(t*|A|) - 1 < t*|A| <= |A∩B| tokens, so A's
    prefix contains an intersection token; the global order puts the
    matching token inside B's prefix whenever both prefixes are
    computed with the same order and t (standard AllPairs argument).
    Candidates therefore come from an equi-join on prefix tokens only
    — ~(1-t)·|x| of each doc's tokens hit the index, and rare-first
    ordering keeps per-token bucket sizes small.

    Plan: explode distinct tokens → term-keyed df agg → df join →
    per-doc rank window (PARTITIONED by doc_id — parallel) → prefix
    rows self-join on term (+ AllPairs length filter
    ceil(t·|A|) <= |B| carried on the index rows) → distinct pairs →
    exact array_intersect verify on the pruned doc subset. Every join
    keyed; workload-quadratic ONLY in surviving candidates, which the
    lemma ties to true near-dup pairs plus prefix collisions.

    Returns (doc_a, doc_b, jaccard) for doc_a < doc_b, J >= threshold,
    jaccard rounded to 6 per the repo parity policy.
    """
    t = float(threshold)
    toks_arr = F.array_distinct(tokens(F.col(text_col)))
    base = (
        docs.select("doc_id", toks_arr.alias("toks"))
        .withColumn("s", F.size("toks"))
        .filter(F.col("s") > 0)
        .persist()  # feeds the index build AND the verify join
    )
    ex = base.select("doc_id", "s", F.explode("toks").alias("term"))
    df_counts = ex.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # prefix length p = s - ceil(t*s) + 1; rows ranked rare-first
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("term"))
    )
    prefix = (
        ex.join(df_counts, "term")
        .withColumn("rn", rn)
        # ceil over an epsilon-lowered product: 0.9*30 = 27.0000…04 in
        # doubles, and a raw ceil would SHORTEN the prefix (false
        # negatives); ceil(x - 1e-9) only ever lengthens it (safe)
        .filter(
            F.col("rn")
            <= F.col("s") - F.ceil(F.lit(t) * F.col("s") - 1e-9) + 1
        )
        .select("term", "doc_id", "s")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # AllPairs length filter: J >= t forces t*|B| <= |A| when
            # |A| <= |B| — sizes ride on the index rows, so the prune
            # happens inside the join before the distinct
            & (F.col("a.s") >= F.ceil(F.lit(t) * F.col("b.s") - 1e-9))
            & (F.col("b.s") >= F.ceil(F.lit(t) * F.col("a.s") - 1e-9)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = base.join(cand_docs, "doc_id", "left_semi")
    ga, gb = sets.alias("ga"), sets.alias("gb")
    inter = F.size(F.array_intersect("ga.toks", "gb.toks"))
    jac = inter.cast("double") / (
        F.col("ga.s") + F.col("gb.s") - inter
    ).cast("double")
    return (
        cand.join(ga, F.col("ga.doc_id") == F.col("doc_a"))
        .join(gb, F.col("gb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("j"))
        .filter(F.col("j") >= t)
        .select("doc_a", "doc_b", F.round("j", 6).alias("jaccard"))
    )


def segment_dedup(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
    max_occurrences: int = 2,
) -> DataFrame:
    """Sub-document repeated-span removal with document reassembly —
    the C4 "discard any line occurring ≥3 times in the corpus" pass
    (Raffel et al. 2020 §2.2) adapted to whitespace corpora: split
    each document into consecutive NON-overlapping k-token segments,
    count each segment's corpus-wide occurrences, drop segments seen
    more than ``max_occurrences`` times anywhere (boilerplate,
    navigation chrome, license headers), and stitch the survivors back
    together in document order. Unlike whole-doc dedup (exact/LSH),
    this removes duplication INSIDE otherwise-unique documents — the
    complementary pass real pretraining pipelines run first.

    Plan (linear, three keyed exchanges, zero Python):
      1. tokenize + segment via JVM HOFs (sequence/transform/slice),
         posexplode to (doc_id, seg_idx, seg) — narrow;
      2. ``groupBy(seg).count()`` — map-side combined histogram;
      3. shuffle hash join segs⋈counts on seg (both sides corpus-sized
         — deliberately NOT broadcast) + filter;
      4. ``groupBy(doc_id)`` reassembly: sort the per-doc struct array
         (bounded by doc length) and array_join — one exchange keyed
         by doc_id;
      5. left join back onto per-doc totals so fully-boilerplate docs
         still emit a row (clean_text = '') instead of silently
         vanishing — the NULL-preservation rule the exact-dedup CLI
         review established.
    At 100 TB: the seg histogram is the only wide relation; hot
    segments (the exact thing being removed) are absorbed by partial
    aggregation, and the join key distribution AFTER the filter is
    near-uniform because the hot keys were just dropped. AQE handles
    residual skew.

    Returns (doc_id, n_segments, n_kept, clean_text), one row per
    non-empty input doc.
    """
    t = docs.select("doc_id", tokens(F.col(text_col)).alias("toks")).filter(
        F.size("toks") > 0
    )
    n_seg = F.ceil(F.size("toks") / F.lit(float(k))).cast("int")
    segs = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * F.lit(k) + F.lit(1), F.lit(k)), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    counts = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("n_occ"))
    kept = (
        segs.join(counts, "seg")
        .filter(F.col("n_occ") <= int(max_occurrences))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # per-doc segment totals are a ROW-LOCAL function of the token
    # array (posexplode of the k-slice transform always emits exactly
    # n_seg non-null rows), so computing them on `t` instead of
    # re-aggregating `segs` drops a third full tokenize+explode pass —
    # the seg histogram and the join's probe side are the only
    # consumers of the exploded relation left (guide §1.2)
    totals = t.select("doc_id", n_seg.cast("long").alias("n_segments"))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def canonical_by_quality(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-based canonical selection — the KEEP/DROP decision a
    curation pipeline makes after clustering near-duplicates. Where
    duplicate_clusters' ``is_canonical`` keeps the min-id doc (an
    arbitrary but stable choice), this keeps the BEST doc per cluster
    by an explicit quality signal (longest text, highest quality
    score, freshest crawl — caller's column), with doc_id as the
    deterministic tiebreak. Docs in no cluster are singleton clusters
    of themselves (left join + coalesce — one row per input doc, the
    NULL-preservation rule).

    Plan: one doc_id-keyed left join (clusters is bounded by docs that
    matched >= 1 pair) + two windows PARTITIONED by cluster_id —
    parallel across clusters; cluster sizes are near-dup group sizes,
    bounded in practice and never corpus-scale.

    Returns (doc_id, cluster_id, cluster_size, keep).
    """
    lab = (
        docs.select("doc_id", quality_col)
        .join(clusters.select("doc_id", "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            quality_col,
        )
    )
    w_rk = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), "doc_id"
    )
    w_sz = Window.partitionBy("cluster_id")
    return lab.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w_sz).cast("long").alias("cluster_size"),
        (F.row_number().over(w_rk) == 1).alias("keep"),
    )


def longest_dup_span(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Longest cross-document duplicated TOKEN RUN per document — the
    span-length view of duplicated_spans. Lee et al. 2022 dedup at
    ~50-token spans; the count/fraction signal says HOW MUCH of a doc
    is duplicated, this says HOW LONG its worst span is (one 400-token
    verbatim quote and 50 scattered 8-grams have the same dup_frac but
    very different memorization risk).

    Relational islands-and-gaps: duplicated n-gram POSITIONS per doc,
    ``pos - row_number()`` over (doc, pos-order) labels each maximal
    consecutive run with a constant, two hash aggs pick the longest;
    a run of L consecutive duplicated n-gram positions is a duplicated
    token span of L + n - 1 tokens. The window is PARTITIONED by
    doc_id (parallel; per-doc input bounded by doc length), the gram
    relation is persisted once for both consumers, and span keys are
    hashed pre-shuffle exactly as duplicated_spans does (output is
    hash-invariant; the oracle groups by gram content).

    Returns (doc_id, n_grams, longest_span_tokens) for every doc with
    >= n tokens; 0 when nothing is duplicated.
    """
    t = docs.select("doc_id", tokens(F.col(text_col)).alias("toks")).filter(
        F.size("toks") >= n
    )
    grams = _span_keys(F.col("toks"), n)
    g = t.select("doc_id", F.posexplode(grams).alias("pos", "g")).persist()
    dup = (
        g.dropDuplicates(["doc_id", "g"])
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        g.join(dup, "g")
        .select("doc_id", "pos")
        .withColumn("isl", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "isl")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("doc_id")
        .agg(F.max("run").alias("max_run"))
    )
    return (
        t.select(
            "doc_id", (F.size("toks") - n + 1).cast("long").alias("n_grams")
        )
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.when(F.col("max_run").isNull(), F.lit(0).cast("long"))
            .otherwise((F.col("max_run") + n - 1).cast("long"))
            .alias("longest_span_tokens"),
        )
    )
