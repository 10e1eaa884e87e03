"""Similarity search over embedding columns (array<float/double>).

Brute-force cosine is the exact baseline (O(n^2) pairs — fine for
verification and small n). The scale path for 100 TB is
`lsh_bucketed_topk`: random-hyperplane LSH buckets candidates with an
equi-join so only same-bucket pairs are scored; recall is tunable via
number of tables/bits. Dot products use left-fold `aggregate` over
`zip_with` — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _normed(embeddings: DataFrame) -> DataFrame:
    v = as_double(F.col("embedding"))
    return embeddings.select(
        "vec_id", v.alias("v")
    ).withColumn("nrm", norm(F.col("v")))


def centroid_probes(
    df: DataFrame,
    cents: DataFrame | None,
    keep: int = 1,
    round_digits: int | None = 6,
    cents_rows: list[tuple[int, list[float], float]] | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """Attach each row's ``keep`` nearest centroids WITHOUT shuffling.

    The crossJoin(broadcast) + Window.partitionBy(row_id) formulation
    shuffles n×k rows just to rank k broadcast-sized candidates per
    row — at corpus scale that is k copies of the corpus through one
    exchange. Here the centroid set comes to the driver once (bounded
    by construction — the same O(k) contract that lets it broadcast;
    kmeans_centroids already collects it every round) and rides into
    a mapInPandas closure: each Arrow batch scores against ALL
    centroids in one BLAS matmul and picks its top-``keep`` rows
    locally. Zero exchanges; assignment scales as a pure map — and
    the matmul kernel is the measured-fast path (the per-pair HOF
    fold lost 10× on the blocked-cosine kernel, same tradeoff here).

    Ordering matches the window formulation exactly: cosine rounded
    HALF-UP to ``round_digits`` (sign * floor(|x|*10^d + 0.5) — what
    Spark/DuckDB ROUND do), descending, ties by ascending
    centroid_id. ``round_digits=None`` skips rounding (exact scores,
    e.g. unit-vector k-means).

    ``df`` must carry ``v`` and ``nrm``; ``cents`` must carry
    (centroid_id, cv, cnrm). Adds ``centroid_id`` (and ``crk`` when
    keep > 1); all df columns pass through.

    ``cents_rows``: pre-collected ``(cid, cv, cnrm)`` triples — when
    the caller already holds the centroid set driver-side (every
    k-means consumer does: the Lloyd loop collects it each round),
    passing it here skips a createDataFrame + collect round-trip
    (one whole Spark job of pure overhead per query). ``cents`` may
    then be None.

    ``score_col``: when set, the kernel also emits the ROUNDED score
    it ranked by under this name — the same value the old
    join-back-and-refold formulation recomputed with a broadcast hash
    join plus a per-row JVM fold, i.e. a full extra pass over the
    output that this flag deletes (verified value-identical: rounding
    HALF-UP to ``round_digits`` reconciles BLAS-vs-fold summation
    order on the fixtures, the same argument the ranking already
    relies on). Requires ``round_digits``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if cents_rows is None:
        crows = cents.select(
            F.col("centroid_id").cast("long").alias("cid"), "cv", "cnrm"
        ).collect()
        cents_rows = [(r["cid"], r["cv"], r["cnrm"]) for r in crows]
    ids = np.array([c for c, _, _ in cents_rows], dtype=np.int64)
    C = (
        np.stack([np.asarray(v, dtype=np.float64) for _, v, _ in cents_rows])
        if cents_rows
        else np.zeros((0, 1))
    )
    cnrm = np.array([n for _, _, n in cents_rows], dtype=np.float64)
    kk = min(keep, len(cents_rows))

    fields = list(df.schema.fields) + [StructField("centroid_id", LongType())]
    if keep > 1:
        fields.append(StructField("crk", IntegerType()))
    if score_col is not None:
        fields.append(StructField(score_col, DoubleType()))
    out_schema = StructType(fields)
    cols = df.columns

    def probe(batches):
        for pdf in batches:
            if not len(pdf) or kk == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            S = (X @ C.T) / (pdf["nrm"].to_numpy()[:, None] * cnrm[None, :])
            if round_digits is not None:
                p = 10.0**round_digits
                S = np.sign(S) * np.floor(np.abs(S) * p + 0.5) / p
            n_rows = S.shape[0]
            # row-wise order by (cos DESC, cid ASC): lexsort, last key primary
            sel = np.lexsort(
                (np.broadcast_to(ids, S.shape), -S), axis=1
            )[:, :kk]
            out = pdf[cols].iloc[np.repeat(np.arange(n_rows), kk)].reset_index(
                drop=True
            )
            out["centroid_id"] = ids[sel].ravel()
            if keep > 1:
                out["crk"] = np.tile(np.arange(1, kk + 1, dtype=np.int32), n_rows)
            if score_col is not None:
                out[score_col] = np.take_along_axis(S, sel, axis=1).ravel()
            yield out

    return df.mapInPandas(probe, out_schema)


def cosine_pairs(
    embeddings: DataFrame, threshold: float, round_digits: int = 6
) -> DataFrame:
    """All pairs with cosine > threshold (exact, brute force)."""
    n = _normed(embeddings)
    a, b = n.alias("a"), n.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") > threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos_raw", round_digits).alias("cosine"),
        )
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """All pairs with cosine > threshold via block-matrix multiply —
    the 100 TB scale path for exact near-dup detection.

    Normalized vectors are grouped into ``n_blocks`` blocks
    (one shuffle); the O(n^2) work becomes n_blocks^2/2 block pairs,
    each scored with ONE numpy matmul (A @ B.T) instead of millions of
    interpreted per-pair folds. On a cluster, blocks distribute across
    executors and each task is a dense BLAS call — the same plan shape
    at 2k or 200M vectors (pick n_blocks so a block's matrix fits in
    executor memory; candidates out of the matmul stream straight into
    the filter, never materializing the full n^2 matrix).

    Results match :func:`cosine_pairs` up to float summation order
    (SIMD/pairwise in BLAS vs left fold); emitted cosines are raw —
    rounding happens here with F.round like every other query.
    """
    import numpy as np
    import pandas as pd

    n = _normed(embeddings)
    unit = n.select(
        "vec_id",
        F.transform("v", lambda x: x / F.col("nrm")).alias("u"),
        (F.col("vec_id") % n_blocks).alias("blk"),
    )
    blocks = unit.groupBy("blk").agg(
        F.collect_list("vec_id").alias("ids"), F.collect_list("u").alias("vecs")
    )
    pairs = (
        blocks.alias("a")
        .join(F.broadcast(blocks.alias("b")), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.blk").alias("blk_a"),
            F.col("a.ids").alias("ids_a"),
            F.col("a.vecs").alias("vecs_a"),
            F.col("b.blk").alias("blk_b"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.vecs").alias("vecs_b"),
        )
    )

    out_schema = "vec_a long, vec_b long, cos_raw double"

    def score(iterator):
        for pdf in iterator:
            outs = []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A = np.vstack([np.asarray(v, dtype=np.float64) for v in row.vecs_a])
                B = np.vstack([np.asarray(v, dtype=np.float64) for v in row.vecs_b])
                C = A @ B.T
                ii, jj = np.nonzero(C > threshold)
                if ii.size == 0:
                    continue
                ia, ib, cs = ids_a[ii], ids_b[jj], C[ii, jj]
                lo = np.minimum(ia, ib)
                hi = np.maximum(ia, ib)
                keep = lo < hi  # drops self-pairs; same-block dupes below
                df = pd.DataFrame(
                    {"vec_a": lo[keep], "vec_b": hi[keep], "cos_raw": cs[keep]}
                )
                if row.blk_a == row.blk_b:
                    df = df.drop_duplicates(["vec_a", "vec_b"])
                outs.append(df)
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []})
            )

    return pairs.mapInPandas(score, out_schema).select(
        "vec_a", "vec_b", F.round("cos_raw", round_digits).alias("cosine")
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self excluded).
    Deterministic: ties broken by neighbor id on the rounded score."""
    from pyspark.sql import Window

    n = _normed(embeddings).alias("n")
    q = _normed(queries).alias("q")
    cos = dot(F.col("q.v"), F.col("n.v")) / (F.col("q.nrm") * F.col("n.nrm"))
    scored = (
        q.join(n, F.col("q.vec_id") != F.col("n.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            F.round(cos, round_digits).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= k)


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 50,
    n_iter: int = 5,
    seed: int = 42,
    round_digits: int | None = None,
    _unit: DataFrame | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd's) over the embedding column, fitted
    with DataFrame ops — the production centroid fit for ivf_topk's
    ``centroids=`` plug-in point.

    Init picks n_centroids vectors deterministically (ordered by
    md5(vec_id:seed), vec_id tiebreak — a seeded shuffle,
    reproducible anywhere). Each round is ONE fused Arrow map pass:
    every batch scores its vectors against the broadcast centroid
    matrix (BLAS matmul), assigns argmax (ties to the smaller
    centroid id), and emits per-centroid PARTIAL (count, sum-vector)
    rows — the map-side combine of the classic distributed k-means,
    so the per-round shuffle is batches x k partial rows, never
    corpus x dims (the earlier posexplode formulation shuffled
    n x d rows per round). Partials merge with an element-wise
    zip_with fold, means re-normalize to the unit sphere, and the
    k-row result comes to the driver for the next round's broadcast —
    bounded by construction, the same argument as the WDT library
    broadcast; the corpus itself never leaves the executors. Cells
    that lose all members are dropped (standard Lloyd's degeneracy;
    callers see <= n_centroids rows).

    ``round_digits``: None (default) fits with exact scores and
    means — the production setting. An int pins the fit for
    cross-engine reproducibility: assignment scores round HALF-UP to
    that many digits (ties then break on centroid_id, so argmax
    comparisons agree across engines despite BLAS-vs-sequential-fold
    summation order) and each round's per-dimension MEANS round
    before re-normalization (the only aggregation whose merge order
    differs across engines; rounding there makes everything
    downstream — norm, division, next round's dots — derive from
    identical doubles). Same round-6 policy every cosine operator in
    this package uses.

    Returns (centroid_id long, cv array<double>) unit vectors.

    ``_unit``: internal — a precomputed/persisted (vec_id, v) unit
    relation whose lifecycle the CALLER manages (kmeans_fit_predict
    shares one across fit + final probe). When None, this function
    persists its own: every Lloyd round's collect() re-executes the
    source otherwise, re-reading and re-normalizing the corpus from
    parquet n_iter+1 times — the canonical iterative-ML cache (what
    MLlib's KMeans does), MEMORY_AND_DISK so a corpus bigger than
    executor memory spills instead of OOMing.
    """
    spark = embeddings.sparkSession
    cents = _kmeans_fit_rows(
        embeddings,
        n_centroids=n_centroids,
        n_iter=n_iter,
        seed=seed,
        round_digits=round_digits,
        _unit=_unit,
    )
    return spark.createDataFrame(cents, "centroid_id long, cv array<double>")


def _kmeans_fit_rows(
    embeddings: DataFrame,
    n_centroids: int,
    n_iter: int,
    seed: int,
    round_digits: int | None,
    _unit: DataFrame | None = None,
) -> list[tuple[int, list[float]]]:
    """The Lloyd loop of :func:`kmeans_centroids`, returning the final
    centroid set as the driver-side row list it already holds after
    the last round's collect. Callers that immediately probe with the
    centroids (fit_predict, silhouette, purity/nmi) use this form +
    ``centroid_probes(cents_rows=...)`` to skip a createDataFrame and
    a collect-it-back job per query; ``kmeans_centroids`` wraps it for
    the DataFrame contract (ivf_topk's ``centroids=`` plug-in point).
    Per round the Arrow transfer ships ONLY ``v`` — vec_id is not
    referenced by the partials kernel, so projecting it out halves the
    non-payload bytes crossing the Python boundary (guide §4.1).
    """
    n = _normed(embeddings).withColumn(
        "u", F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    )
    own_cache = _unit is None
    if own_cache:
        unit = n.select("vec_id", F.col("u").alias("v")).persist()
    else:
        unit = _unit
    init = (
        unit.select(
            "vec_id",
            "v",
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(f":{seed}"))).alias(
                "__r"
            ),
        )
        .orderBy("__r", "vec_id")
        .limit(n_centroids)
    )
    cents = [
        (i, list(r["v"])) for i, r in enumerate(init.collect())
    ]
    import numpy as np

    for _ in range(n_iter):
        ids = np.array([c for c, _ in cents], dtype=np.int64)
        C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
        d = C.shape[1]

        def partials(batches, ids=ids, C=C):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
                # unit vectors both sides → plain dot IS the cosine
                S = X @ C.T
                if round_digits is not None:
                    p = 10.0**round_digits
                    S = np.sign(S) * np.floor(np.abs(S) * p + 0.5) / p
                # argmax by (score DESC, centroid_id ASC) — the exact
                # tie rule centroid_probes uses
                sel = np.lexsort((np.broadcast_to(ids, S.shape), -S), axis=1)[:, 0]
                rows = []
                for j in np.unique(sel):
                    m = X[sel == j]
                    rows.append((int(ids[j]), int(m.shape[0]), m.sum(axis=0).tolist()))
                yield pd.DataFrame(
                    rows, columns=["centroid_id", "cnt", "sums"]
                )

        part = unit.select("v").mapInPandas(
            partials, "centroid_id long, cnt long, sums array<double>"
        )
        zero = F.array_repeat(F.lit(0.0), d)
        means = (
            part.groupBy("centroid_id")
            .agg(
                F.sum("cnt").alias("n_members"),
                F.aggregate(
                    F.collect_list("sums"),
                    zero,
                    lambda acc, s: F.zip_with(acc, s, lambda a, b: a + b),
                ).alias("sv"),
            )
            .select(
                "centroid_id",
                F.transform(
                    F.col("sv"), lambda x: x / F.col("n_members").cast("double")
                ).alias("mv"),
            )
        )
        if round_digits is not None:
            means = means.select(
                "centroid_id",
                F.transform(
                    F.col("mv"), lambda x: F.round(x, round_digits)
                ).alias("mv"),
            )
        means = (
            means.withColumn("mnrm", norm(F.col("mv")))
            .filter(F.col("mnrm") > 0)
            .select(
                "centroid_id",
                F.transform(F.col("mv"), lambda x: x / F.col("mnrm")).alias("cv"),
            )
        )
        cents = [(r["centroid_id"], list(r["cv"])) for r in means.collect()]
    if own_cache:
        unit.unpersist()
    return cents


def kmeans_fit_predict(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    seed: int = 7,
    round_digits: int = 6,
    carry: tuple[str, ...] = (),
    with_score: bool = True,
) -> DataFrame:
    """Fit the parity-pinned spherical k-means and return every
    vector's final assignment — the curation-clustering view (cluster
    then sample/dedup/inspect per cell) of :func:`kmeans_centroids`.

    Returns (vec_id, cluster, cos_r): the max-cosine centroid after
    ``n_iter`` Lloyd rounds and the rounded cosine to it. The fit and
    the final probe both run with ``round_digits`` pinning, so the
    whole pipeline — init order, every assignment, every mean — is
    reproducible bit-for-bit against a sequential-fold reference
    implementation. Scale shape: per round one broadcast map pass +
    one (centroid, dim) agg; the only collected relation is the
    k-row centroid set (bounded by construction). The final probe is
    ZERO-join: the kernel emits the rounded cosine it ranked by, and
    ``carry`` columns (e.g. a label for external cluster evals) pass
    through the kernel instead of being joined back on vec_id.
    ``with_score=False`` drops cos_r for consumers that only need the
    assignment.
    """
    n = _normed(embeddings).withColumn(
        "u", F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    )
    # one persisted unit relation serves every Lloyd round AND the
    # final probe — without it each round's collect() re-reads and
    # re-normalizes the corpus from parquet (see kmeans_centroids)
    shared = n.select("vec_id", F.col("u").alias("v")).persist()
    cents = _kmeans_fit_rows(
        embeddings,
        n_centroids=n_centroids,
        n_iter=n_iter,
        seed=seed,
        round_digits=round_digits,
        _unit=shared,
    )
    # the probe recomputes the unit relation from source (carry joins
    # ride along for free: extra passthrough columns, not a shuffle) —
    # unit vectors have cnrm = nrm = 1 so the kernel's score IS the
    # pinned cosine; emitting it from the kernel replaces the old
    # broadcast-join-back + per-row JVM refold of the same dot product
    unit = (
        embeddings.select(
            "vec_id", *carry, as_double(F.col("embedding")).alias("v")
        )
        .withColumn("nrm", norm(F.col("v")))
        .select(
            "vec_id",
            *carry,
            F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("v"),
            F.lit(1.0).alias("nrm"),
        )
    )
    assigned = centroid_probes(
        unit,
        None,
        1,
        round_digits=round_digits,
        cents_rows=[(cid, cv, 1.0) for cid, cv in cents],
        score_col="cos_r" if with_score else None,
    )
    # free the fit-time cache now: the returned probe is lazy, so its
    # execution recomputes the unit relation once from source (exactly
    # the pre-cache cost) instead of pinning corpus-sized blocks past
    # this call's lifetime in a long-lived session
    shared.unpersist()
    keep_cols = ["vec_id", *carry, F.col("centroid_id").alias("cluster")]
    if with_score:
        keep_cols.append("cos_r")
    return assigned.select(*keep_cols)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_mod: int = 50,
    nprobe: int = 3,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index:

    1. centroids — by default a deterministic subset (vec_id %
       centroid_mod == 0) so the oracle can reproduce them; pass
       ``centroids=`` (e.g. from ``kmeans_centroids``) to plug a
       fitted (centroid_id, cv) set into the same plan;
    2. every vector is assigned to its nearest centroid (broadcast
       join against the small centroid set — ONE pass, no n^2);
    3. each query probes its ``nprobe`` nearest centroids and scores
       only the vectors in those cells.

    Scored cosines are rounded before ranking and ties break by
    neighbor id, so results are reproducible across engines. At scale
    the cell assignment is the partitioning key — cells are the unit
    of data locality, and probe fan-out reads nprobe/n_cells of the
    data instead of all of it.
    """
    n = _normed(embeddings)
    if centroids is None:
        cents = _normed(
            embeddings.filter(F.col("vec_id") % centroid_mod == 0)
        ).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    else:
        cents = centroids.select(
            "centroid_id", "cv", norm(F.col("cv")).alias("cnrm")
        )

    def nearest(df: DataFrame, id_col: str, keep: int) -> DataFrame:
        # map-side top-keep over the broadcast centroid array — the
        # window formulation would shuffle n×k rows (centroid_probes)
        out = centroid_probes(df, cents, keep, round_digits=round_digits)
        return out.drop("crk") if keep > 1 else out

    assigned = nearest(n, "vec_id", 1).select(
        F.col("vec_id").alias("n_id"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
        "centroid_id",
    )
    probes = nearest(_normed(queries), "vec_id", nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        "centroid_id",
    )

    cos = dot(F.col("qv"), F.col("nv")) / (F.col("qnrm") * F.col("nnrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        probes.join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("n_id"))
        .select(
            "query_id",
            F.col("n_id").alias("neighbor_id"),
            F.round(cos, round_digits).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures bucket the
    vectors; candidates = same (table, signature) bucket; exact cosine
    re-rank within candidates. Recall grows with n_tables.

    The hyperplanes are a tiny deterministic literal array (seeded),
    broadcast implicitly as part of the plan — no shuffle to build.
    """
    import random

    from pyspark.sql import Window

    rnd = random.Random(seed)
    planes = [
        [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]

    def signature(v: Column, table: int) -> Column:
        # One zip_with+aggregate fold per plane (codegen emits a loop)
        # instead of dim unrolled get()*lit() adds: the unrolled form is
        # n_tables*n_planes*dim inline terms, which overflows Janino's
        # method limit inside the explode's consume path and silently
        # drops the whole stage to interpreted execution. Fold order
        # matches the unrolled left-to-right sum, so dots are
        # bit-identical and bucket assignment is unchanged.
        bits = [
            F.when(
                dot(v, F.array(*[F.lit(x) for x in planes[table][p]])) > 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for p in range(n_planes)
        ]
        return F.concat(*bits)

    def bucketed(df: DataFrame) -> DataFrame:
        n = _normed(df)
        tables = F.array(
            *[
                F.struct(F.lit(t).alias("t"), signature(F.col("v"), t).alias("sig"))
                for t in range(n_tables)
            ]
        )
        return n.select(
            "vec_id", "v", "nrm", F.explode(tables).alias("bucket")
        ).select(
            "vec_id",
            "v",
            "nrm",
            F.col("bucket.t").alias("t"),
            F.col("bucket.sig").alias("sig"),
        )

    cand_q = bucketed(queries).alias("q")
    cand_n = bucketed(embeddings).alias("n")
    cos = dot(F.col("q.v"), F.col("n.v")) / (F.col("q.nrm") * F.col("n.nrm"))
    scored = (
        cand_q.join(
            cand_n,
            (F.col("q.t") == F.col("n.t"))
            & (F.col("q.sig") == F.col("n.sig"))
            & (F.col("q.vec_id") != F.col("n.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            F.round(cos, round_digits).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= k)


def knn_classify(
    embeddings: DataFrame,
    train: DataFrame,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """k-NN majority-vote label classification of a corpus against a
    labeled seed set — the quality-classifier inference pass of an
    LLM curation pipeline (a small annotated set scores the whole
    corpus; FineWeb-Edu-style filtering keeps docs whose predicted
    label clears a bar).

    ``train`` carries (vec_id, embedding, label). Scale shape: the
    labeled set is broadcast-sized by construction (annotation is
    expensive; the corpus is not), so it rides into the same
    :func:`centroid_probes` mapInPandas closure used by IVF — each
    Arrow batch of corpus vectors scores against the FULL train matrix
    in one BLAS matmul and keeps its top-k locally. Classifying the
    corpus is a pure map pass; the only shuffle is the per-vector vote
    aggregation on (vec_id, label), which partial-aggregates map-side.

    Vote ordering is deterministic: neighbors ranked by (cosine
    rounded HALF-UP to ``round_digits`` DESC, train id ASC); the
    winning label by (votes DESC, label ASC).

    Returns (vec_id, pred_label, votes).
    """
    n = _normed(embeddings)
    cents = _normed(train).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    labels = train.select(F.col("vec_id").alias("centroid_id"), "label")
    probes = centroid_probes(n, cents, keep=k, round_digits=round_digits)
    votes = (
        probes.join(F.broadcast(labels), "centroid_id")
        .groupBy("vec_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("vrk", F.row_number().over(w))
        .filter(F.col("vrk") == 1)
        .select("vec_id", F.col("label").alias("pred_label"), "votes")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.97,
    centroid_mod: int = 50,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then hunt
    near-identical pairs ONLY within a cluster — the cluster is the
    blocking key that turns an O(n^2) sweep into per-cell work.

    A vector is a duplicate when its cosine to some SMALLER-id member
    of the same cell reaches ``threshold`` (min-id keeper, the same
    canonical-representative rule as the exact/LSH dedup paths).
    Returns (vec_id, centroid_id, is_dup) for every vector.

    Default centroids are the deterministic subset (vec_id %
    centroid_mod == 0) so the DuckDB oracle reproduces them; pass
    ``centroids=`` from ``kmeans_centroids`` for the fitted variant.

    Scale shape: one broadcast assignment pass, then a self equi-join
    keyed on centroid_id — shuffle co-partitions each cell, cells are
    ~n/k vectors, and the pair work is sum(cell^2) not n^2. Skewed
    cells (embedding-space boilerplate) cap out exactly like LSH's
    bucket cap: fit more centroids.
    """
    n = _normed(embeddings)
    if centroids is None:
        cents = _normed(
            embeddings.filter(F.col("vec_id") % centroid_mod == 0)
        ).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    else:
        cents = centroids.select(
            "centroid_id", "cv", norm(F.col("cv")).alias("cnrm")
        )

    # map-side assignment (no n×k shuffle — see centroid_probes);
    # the relation feeds three branches (both join sides + the final
    # projection), so persist it: one corpus pass, not three. At
    # 100 TB this intermediate is what you'd checkpoint.
    asgn = centroid_probes(n, cents, 1, round_digits=round_digits).select(
        "vec_id", "v", "nrm", "centroid_id"
    ).persist()

    a = asgn.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = asgn.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_digits
    )
    dups = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        asgn.select("vec_id", "centroid_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def quantize_int8(
    embeddings: DataFrame, vec_col: str = "a", keep_vec: bool = False
) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column:
    ``scale = max|x| / 127``, ``code_i = round(x_i / scale)`` — the
    standard ANN memory-reduction step (int8 codes are 4x smaller than
    fp32, 8x smaller than the fp64 arrays here; a corpus that cannot
    hold in executor memory at full precision usually can at int8, and
    the reconstructed dot product ``scale_q * scale_d * Σ cq_i cd_i``
    ranks near-identically — recall pinned in pytest).

    Pure array HOFs, zero shuffle, no Python. The zero vector gets
    scale 0 and all-zero codes. Returns (vec_id, scale, codes);
    ``keep_vec=True`` carries the original vector through as ``v``
    (for reconstruction-error audits).
    """
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    codes = F.when(
        max_abs == 0.0, F.transform(v, lambda x: F.lit(0))
    ).otherwise(F.transform(v, lambda x: F.round(x / scale).cast("int")))
    cols = ["vec_id", scale.alias("scale"), codes.alias("codes")]
    if keep_vec:
        cols.append(v.alias("v"))
    return embeddings.select(*cols)


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    vector, the ``k`` corpus vectors with a DIFFERENT label that sit
    closest in cosine space — the negatives a contrastive loss learns
    the most from (reference has no embedding ops; this extends the
    detection engine to the LLM-training-data surface).

    Scale shape — one map pass over the corpus, no all-pairs shuffle:
    the anchor set is collected once (bounded by construction: anchors
    are the curated/labeled slice, the same O(small) contract that
    lets `knn_classify` broadcast its train set) and rides into a
    mapInPandas closure. Each Arrow batch of corpus vectors scores
    against ALL anchors in one BLAS matmul, masks same-label and
    self pairs, and keeps its per-anchor local top-k — so a batch of
    B rows emits at most n_anchors*k rows, independent of B. The only
    shuffle is the final per-anchor global top-k over those
    candidate slivers (n_anchors * k * n_batches rows total).

    Local-then-global top-k is exact: any global top-k member is by
    definition in its own batch's top-k. Ordering is deterministic on
    both engines: cosine rounded HALF-UP to ``round_digits`` DESC,
    then corpus id ASC (the rounding happens BEFORE the per-batch
    selection so batch boundaries can never flip a tie).

    Returns (anchor_id, negative_id, negative_label, cosine, rk).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    arows = (
        _normed(anchors)
        .join(anchors.select("vec_id", "label"), "vec_id")
        .select("vec_id", "v", "nrm", "label")
        .collect()
    )
    a_ids = np.array([r["vec_id"] for r in arows], dtype=np.int64)
    a_lab = np.array([r["label"] for r in arows], dtype=np.int64)
    A = (
        np.stack([np.asarray(r["v"], dtype=np.float64) for r in arows])
        if arows
        else np.zeros((0, 1))
    )
    a_nrm = np.array([r["nrm"] for r in arows], dtype=np.float64)
    p = 10.0**round_digits

    n = _normed(corpus).join(corpus.select("vec_id", "label"), "vec_id")
    out_schema = StructType(
        [
            StructField("anchor_id", LongType()),
            StructField("negative_id", LongType()),
            StructField("negative_label", IntegerType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf) or not len(a_ids):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labs = pdf["label"].to_numpy(dtype=np.int64)
            # (n_anchors, batch) similarity, rounded HALF-UP pre-rank
            S = (A @ X.T) / (a_nrm[:, None] * pdf["nrm"].to_numpy()[None, :])
            S = np.sign(S) * np.floor(np.abs(S) * p + 0.5) / p
            # a negative must carry a different label and not be the anchor
            S[a_lab[:, None] == labs[None, :]] = -np.inf
            S[a_ids[:, None] == ids[None, :]] = -np.inf
            kk = min(k, S.shape[1])
            sel = np.lexsort((np.broadcast_to(ids, S.shape), -S), axis=1)[:, :kk]
            cos = np.take_along_axis(S, sel, axis=1)
            keep = np.isfinite(cos)
            n_a = len(a_ids)
            yield pd.DataFrame(
                {
                    "anchor_id": np.repeat(a_ids, kk)[keep.ravel()],
                    "negative_id": ids[sel].ravel()[keep.ravel()],
                    "negative_label": labs[sel].ravel()[keep.ravel()].astype(np.int32),
                    # + 0.0 canonicalizes -0.0 (cross-engine hash parity)
                    "cosine": cos.ravel()[keep.ravel()] + 0.0,
                }
            )

    cands = n.mapInPandas(score, out_schema)
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return cands.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= k)


def kmeans_silhouette(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    seed: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette for the parity-pinned
    spherical k-means — the fit-quality report a curation pipeline
    reads before trusting cluster-balanced sampling or per-cell dedup
    quotas. Simplified silhouette (Hruschka et al. 2004) replaces the
    O(n^2) pairwise form with centroid distances — the only version
    that exists at corpus scale:

        a = 1 - cos(x, own centroid)      (cosine distance)
        b = 1 - cos(x, nearest OTHER)     (= 2nd-best overall, since
                                           own is the argmax)
        sil = (b - a) / max(a, b) = (c1 - c2) / (1 - c2); 0 on ties

    Plan: the same zero-shuffle broadcast-centroid probe as
    kmeans_fit_predict, kept at top-2 instead of top-1, one hash
    aggregate per vector (pivot rk 1/2) and one per cluster. Cosines
    are pre-rounded, so sil — and its per-cluster mean — is
    partitioning-invariant at the shared round-6 output.

    Returns (cluster, n_vecs, mean_silhouette).
    """
    import numpy as np

    cents = _kmeans_fit_rows(
        embeddings,
        n_centroids=n_centroids,
        n_iter=n_iter,
        seed=seed,
        round_digits=round_digits,
    )
    ids = np.array([c for c, _ in cents], dtype=np.int64)
    C = (
        np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
        if cents
        else np.zeros((0, 1))
    )
    n = _normed(embeddings).withColumn(
        "u", F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    )
    unit = n.select(F.col("u").alias("v"))
    p = 10.0**round_digits

    # One fused map pass replaces the old probe→broadcast-join→refold→
    # groupBy(vec_id) pivot pipeline: the kernel already holds the full
    # rounded score row, so it takes c1/c2 directly (same lexsort rank
    # rule) and pre-aggregates per-cluster (count, sum sil) partials —
    # the shuffle drops from 2 rows per corpus vector to batches × k
    # partial rows, the same map-side-combine shape as the Lloyd fit.
    def sil_partials(batches, ids=ids, C=C):
        import pandas as pd

        for pdf in batches:
            if not len(pdf) or not len(ids):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            S = X @ C.T
            S = np.sign(S) * np.floor(np.abs(S) * p + 0.5) / p
            sel = np.lexsort((np.broadcast_to(ids, S.shape), -S), axis=1)[:, :2]
            top = np.take_along_axis(S, sel, axis=1)
            own = sel[:, 0]
            if top.shape[1] > 1:
                c1, c2 = top[:, 0], top[:, 1]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sil = np.where(c1 == c2, 0.0, (c1 - c2) / (1.0 - c2))
            else:
                sil = None  # single centroid: no "nearest other" → NULL
            rows = []
            for j in np.unique(own):
                m = own == j
                rows.append(
                    (
                        int(ids[j]),
                        int(m.sum()),
                        float(sil[m].sum()) if sil is not None else None,
                    )
                )
            yield pd.DataFrame(rows, columns=["cluster", "cnt", "s"])

    part = unit.mapInPandas(sil_partials, "cluster long, cnt long, s double")
    return part.groupBy("cluster").agg(
        F.sum("cnt").cast("long").alias("n_vecs"),
        (F.round(F.sum("s") / F.sum("cnt"), 6) + F.lit(0.0)).alias(
            "mean_silhouette"
        ),
    )


def embedding_shift(
    embeddings: DataFrame,
    split_col: Column | None = None,
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-space drift monitor: per label, compare the MEAN
    vector of a reference slice against a candidate slice — the
    "did the new encoder batch / new crawl move the embedding space"
    check that runs before ANN indexes or k-NN labels built on the old
    geometry are trusted on new vectors. Reports:

        l2_shift    = || mu_ref - mu_cur ||
        mean_cosine = cos(mu_ref, mu_cur)
        max_dim_shift = max_d |mu_ref[d] - mu_cur[d]|

    ``split_col`` is a boolean Column marking the reference slice
    (default: even vec_id — the deterministic two-batch simulation).

    Determinism: per-(label, dim, side) means are rounded once to
    ``round_digits`` BEFORE any combination (the pre-rounding
    discipline every float aggregate in this repo uses), so the
    downstream exact arithmetic — 64-term sums of rounded doubles —
    is merge-order-invariant at the rounded output. Plan: one explode
    -> (label, dim) hash agg (map-side combined) -> one #labels-sized
    aggregate. Zero joins, zero windows.
    """
    if split_col is None:
        split_col = F.col("vec_id") % 2 == 0
    e = embeddings.select(
        F.col(label_col).alias("label"),
        split_col.alias("is_ref"),
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "x"),
    )
    per_dim = e.groupBy("label", "dim").agg(
        F.round(F.avg(F.when(F.col("is_ref"), F.col("x"))), round_digits).alias(
            "mr"
        ),
        F.round(F.avg(F.when(~F.col("is_ref"), F.col("x"))), round_digits).alias(
            "mc"
        ),
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("nr"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("nc"),
    )
    d = F.col("mr") - F.col("mc")
    out = per_dim.groupBy("label").agg(
        (F.max("nr")).cast("long").alias("n_ref"),
        (F.max("nc")).cast("long").alias("n_cur"),
        F.sum(d * d).alias("sq"),
        F.sum(F.col("mr") * F.col("mc")).alias("dot"),
        F.sum(F.col("mr") * F.col("mr")).alias("rr"),
        F.sum(F.col("mc") * F.col("mc")).alias("cc"),
        F.max(F.abs(d)).alias("mx"),
    )
    return out.select(
        "label",
        "n_ref",
        "n_cur",
        (F.round(F.sqrt(F.col("sq")), round_digits) + F.lit(0.0)).alias("l2_shift"),
        (
            F.round(
                F.col("dot") / (F.sqrt(F.col("rr")) * F.sqrt(F.col("cc"))),
                round_digits,
            )
            + F.lit(0.0)
        ).alias("mean_cosine"),
        (F.round(F.col("mx"), round_digits) + F.lit(0.0)).alias("max_dim_shift"),
    )


def cluster_purity(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    seed: int = 7,
    label_col: str = "label",
) -> DataFrame:
    """External clustering evaluation against ground-truth labels:
    per fitted k-means cluster, its size, majority label, and purity
    (majority fraction) — the cheap contingency-table check run next
    to kmeans_silhouette (internal geometry) before cluster-level
    curation decisions trust the cells.

    Majority ties break by SMALLEST label (max over a (count, -label)
    struct — deterministic in both engines). Plan: the pinned k-means
    assignment (zero-shuffle probe) + one (cluster, label) hash
    aggregate + one #clusters-sized rollup.

    Returns (cluster, n_vecs, majority_label, purity) — purity
    rounded to 6.
    """
    # the probe passes arbitrary columns through its kernel, so the
    # label rides along with the assignment — the old formulation
    # joined the corpus-sized assignment back to the corpus on vec_id
    # (a full shuffle of both sides) just to reattach a column the
    # probe input already had, and computed a cos_r it then discarded
    cl = (
        kmeans_fit_predict(
            embeddings,
            n_centroids=n_centroids,
            n_iter=n_iter,
            seed=seed,
            carry=(label_col,),
            with_score=False,
        )
        .select("cluster", F.col(label_col).alias("lab"))
        .groupBy("cluster", "lab")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = F.max(F.struct(F.col("c"), (-F.col("lab")).alias("neg_lab"))).alias("top")
    out = cl.groupBy("cluster").agg(
        F.sum("c").cast("long").alias("n_vecs"), top
    )
    return out.select(
        "cluster",
        "n_vecs",
        (-F.col("top.neg_lab")).cast("long").alias("majority_label"),
        (
            F.round(F.col("top.c") / F.col("n_vecs").cast("double"), 6)
            + F.lit(0.0)
        ).alias("purity"),
    )


def cluster_nmi(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    seed: int = 7,
    label_col: str = "label",
) -> DataFrame:
    """Normalized mutual information between the pinned k-means
    clustering and ground-truth labels — the single-number external
    eval cluster_purity's per-cluster rows roll up to (purity rewards
    many tiny clusters; NMI doesn't):

        NMI = I(C;L) / sqrt(H(C) * H(L))

    All three terms come from ONE contingency table of exact integer
    counts (localCheckpoint-ed: every marginal and the joint read it
    without re-expanding the k-means assignment subtree). Degenerate
    partitions (one cluster or one label: H = 0) emit NULL in both
    engines rather than dividing by zero.

    Returns one row: (n, n_clusters, n_labels, nmi) — nmi rounded 6.
    """
    # label carried through the probe kernel — see cluster_purity for
    # why this replaces the corpus×corpus vec_id join
    cl = (
        kmeans_fit_predict(
            embeddings,
            n_centroids=n_centroids,
            n_iter=n_iter,
            seed=seed,
            carry=(label_col,),
            with_score=False,
        )
        .select("cluster", F.col(label_col).alias("lab"))
        .groupBy("cluster", "lab")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    marg_c = cl.groupBy("cluster").agg(F.sum("c").alias("nc"))
    marg_l = cl.groupBy("lab").agg(F.sum("c").alias("nl"))
    n_row = cl.agg(F.sum("c").cast("double").alias("n"))
    joint = (
        cl.join(F.broadcast(marg_c), "cluster")
        .join(F.broadcast(marg_l), "lab")
        .crossJoin(F.broadcast(n_row))
    )
    c = F.col("c").cast("double")
    i_term = (c / F.col("n")) * F.log(
        c * F.col("n") / (F.col("nc").cast("double") * F.col("nl").cast("double"))
    )
    mi = joint.agg(F.sum(i_term).alias("mi"), F.max("n").alias("n"))
    p_c = F.col("nc").cast("double") / F.col("n")
    hc = (
        marg_c.crossJoin(F.broadcast(n_row))
        .agg(
            (-F.sum(p_c * F.log(p_c))).alias("hc"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
        )
    )
    p_l = F.col("nl").cast("double") / F.col("n")
    hl = (
        marg_l.crossJoin(F.broadcast(n_row))
        .agg(
            (-F.sum(p_l * F.log(p_l))).alias("hl"),
            F.count(F.lit(1)).cast("long").alias("n_labels"),
        )
    )
    return (
        mi.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .select(
            F.col("n").cast("long").alias("n"),
            "n_clusters",
            "n_labels",
            F.when(
                (F.col("hc") > 0) & (F.col("hl") > 0),
                F.round(
                    F.col("mi") / F.sqrt(F.col("hc") * F.col("hl")), 6
                )
                + F.lit(0.0),
            ).alias("nmi"),
        )
    )


def embedding_simhash(
    embeddings: DataFrame,
    n_bits: int = 16,
    seed: int = 42,
    quant: int = 1_000_000,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sign-random-projection sketch for dense vectors (Charikar 2002
    — the embedding-space analog of extras/dedup.py:simhash64):
    bit_j = [ sum_i floor(v_i * quant) * s_ij  >= 0 ], packed into one
    BIGINT, plus the sketch-bucket size (vectors sharing all n_bits
    signs are near-dup candidates — the zero-float-compare cousin of
    lsh_bucketed_topk's bucketing).

    Cross-engine exactness by construction: the projection is INTEGER
    arithmetic end to end. floor(double * quant) is bit-deterministic
    (one correctly-rounded IEEE product, then floor — no decimal-ROUND
    tie semantics), and the sign matrix s_ij in {+1,-1} derives from
    md5(f"{seed}:{j}:{i}") at PLAN-BUILD time, shared verbatim with the
    DuckDB oracle — the same seeded-planes pattern as
    lsh_bucketed_topk, minus every float fold.

    Kernel: one Arrow-batched int64 matmul (floor(V*quant) @ S.T) per
    batch — every op after the one IEEE multiply is int64, so it is
    exact. A vector whose length differs from ``dim`` fails the
    matmul's shape check loudly instead of producing a sketch.

    Scale: one scan, one sketch-keyed window for the bucket size —
    the only shuffle. 100 TB shape: buckets replace the all-pairs
    cosine sweep the same way LSH bands do.
    """
    import numpy as np
    import pandas as pd

    smat = np.asarray(simhash_sign_matrix(n_bits, dim, seed), dtype=np.int64)
    weights = (1 << np.arange(n_bits)).astype(np.int64)
    fquant = float(quant)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "sketch": []})
                continue
            v = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            q = np.floor(v * fquant).astype(np.int64)
            proj = q @ smat.T  # (n, n_bits) int64 — exact
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "sketch": ((proj >= 0) @ weights).astype(np.int64),
                }
            )

    out = embeddings.select(id_col, vec_col).mapInPandas(
        kernel, "vec_id long, sketch long"
    )
    return out.select(
        "vec_id",
        "sketch",
        F.count(F.lit(1)).over(Window.partitionBy("sketch")).alias("bucket_size"),
    )


def simhash_sign_matrix(n_bits: int, dim: int, seed: int) -> list[list[int]]:
    """The deterministic {+1,-1} projection matrix shared verbatim by
    embedding_simhash and its DuckDB oracle: sign = +1 iff the first
    hex nibble of md5(f"{seed}:{bit}:{dim_index}") is < 8."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0] in "01234567"
            else -1
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]
