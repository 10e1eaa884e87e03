"""Similarity-search scale paths vs the exact baselines."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    from gnip_trend_detection_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings").cache()


def test_blocked_matches_exact(spark, embeddings):
    from gnip_trend_detection_spark.extras import similarity

    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.cosine_pairs(embeddings, 0.4).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.cosine_pairs_blocked(embeddings, 0.4, n_blocks=5).collect()
    }
    assert set(exact) == set(blocked)
    for k, v in exact.items():
        assert blocked[k] == pytest.approx(v, abs=2e-6), k


def test_lsh_recall_vs_brute_force(spark, embeddings):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras import similarity

    queries = embeddings.filter(F.col("vec_id") < 20)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(embeddings, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_bucketed_topk(
            embeddings, queries, k=5, n_planes=4, n_tables=16
        ).collect()
    }
    recall = len(truth & approx) / len(truth)
    # measured: 0.86 at (4,16), 0.99 at (3,16) on the sf0.001 fixture
    assert recall >= 0.7, f"LSH recall too low: {recall:.2f}"


def test_kmeans_ivf_recall_beats_mod_centroids(spark, embeddings):
    """The k-means plug-in point: fitted spherical centroids must give
    IVF at least the recall of the deterministic mod-subset centroids
    (they adapt to the data's cluster structure)."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras import similarity

    queries = embeddings.filter(F.col("vec_id") < 20)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(embeddings, queries, k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(truth & got) / len(truth)

    r_mod = recall(similarity.ivf_topk(embeddings, queries, k=5, nprobe=3))
    cents = similarity.kmeans_centroids(embeddings, n_centroids=10, n_iter=4)
    assert cents.count() <= 10
    r_km = recall(
        similarity.ivf_topk(embeddings, queries, k=5, nprobe=3, centroids=cents)
    )
    assert r_km >= r_mod - 0.05, (r_km, r_mod)
    assert r_km >= 0.5, r_km


def test_kmeans_centroids_are_unit_and_deterministic(spark, embeddings):
    from gnip_trend_detection_spark.extras import similarity

    c1 = similarity.kmeans_centroids(embeddings, n_centroids=8, n_iter=2)
    rows = c1.collect()
    for r in rows:
        s = sum(x * x for x in r["cv"])
        assert abs(s - 1.0) < 1e-9
    c2 = similarity.kmeans_centroids(embeddings, n_centroids=8, n_iter=2)
    a = {r["centroid_id"]: tuple(r["cv"]) for r in rows}
    b = {r["centroid_id"]: tuple(r["cv"]) for r in c2.collect()}
    assert a == b


def test_pca_components_orthonormal_and_variance_ordered(spark):
    import numpy as np

    from gnip_trend_detection_spark.extras.pca import (
        covariance,
        pca_components,
        pca_project,
    )
    from gnip_trend_detection_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    mean, W, ev = pca_components(embs, k=4)
    # orthonormal columns, eigenvalues descending and nonnegative
    assert np.allclose(W.T @ W, np.eye(4), atol=1e-8)
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(3))
    assert ev[-1] >= -1e-9
    # sign convention: largest-|coord| entry positive
    for c in range(W.shape[1]):
        assert W[np.argmax(np.abs(W[:, c])), c] > 0
    # projected variance per component ~= eigenvalue (cov rounded 1e-6)
    proj = pca_project(embs, mean, W).toPandas()
    for c in range(4):
        v = proj[proj["comp"] == c]["value"].to_numpy()
        assert abs(v.mean()) < 1e-3  # centered
        assert abs(v.var() - ev[c]) < 1e-3
    # covariance relation is symmetric with variances on the diagonal
    cv = {(r["i"], r["j"]): r["cov"] for r in covariance(embs).collect()}
    d = int(max(i for i, _ in cv)) + 1
    assert all(cv[(i, j)] == cv[(j, i)] for i in range(d) for j in range(i))
    assert all(cv[(i, i)] >= 0 for i in range(d))


def test_knn_classify_majority_vote(spark, embeddings):
    """Predictions agree with a driver-side numpy recomputation of the
    same (cos DESC, id ASC) / (votes DESC, label ASC) ordering."""
    import numpy as np
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras import similarity

    ev = embeddings.filter(F.col("vec_id") % 4 == 0)
    tr = embeddings.filter(F.col("vec_id") % 4 != 0)
    got = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify(ev, tr, k=5).collect()
    }

    rows = embeddings.select("vec_id", "embedding", "label").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    labels = np.array([r["label"] for r in rows])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    ev_m, tr_m = ids % 4 == 0, ids % 4 != 0
    S = np.round(X[ev_m] @ X[tr_m].T, 6)
    assert len(got) == ev_m.sum()
    for i, qid in enumerate(ids[ev_m]):
        order = np.lexsort((ids[tr_m], -S[i]))[:5]
        votes = {}
        for lab in labels[tr_m][order]:
            votes[lab] = votes.get(lab, 0) + 1
        want = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[qid] == want, qid


def test_int8_quantization_preserves_topk_recall(spark):
    import numpy as np

    from gnip_trend_detection_spark.extras.similarity import quantize_int8

    SF = "/root/testdata/sf0.001"
    from gnip_trend_detection_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("a")
    )
    rows = quantize_int8(embs, keep_vec=True).collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.stack([np.asarray(r["v"]) for r in rows])
    S = np.array([r["scale"] for r in rows])
    C = np.stack([np.asarray(r["codes"], dtype=np.int64) for r in rows])
    assert np.abs(C).max() <= 127

    exact = V @ V.T
    recon = (C * S[:, None]) @ (C * S[:, None]).T
    np.fill_diagonal(exact, -np.inf)
    np.fill_diagonal(recon, -np.inf)
    k = 10
    hits = 0
    for i in range(len(ids)):
        te = set(np.argsort(-exact[i])[:k])
        tq = set(np.argsort(-recon[i])[:k])
        hits += len(te & tq)
    recall = hits / (len(ids) * k)
    assert recall >= 0.9, recall


def test_hard_negatives_exact_vs_brute_force(spark, embeddings):
    """mine_hard_negatives == the brute-force window formulation, and
    the per-batch local top-k is exact regardless of batch boundaries
    (forced tiny batches)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras import similarity

    anchors = embeddings.filter(F.col("vec_id") % 25 == 0)
    mined = similarity.mine_hard_negatives(embeddings, anchors, k=5)
    got = {
        (r["anchor_id"], r["rk"]): (r["negative_id"], r["cosine"])
        for r in mined.collect()
    }

    # brute force: rounded-cosine window over the label-differ join
    n = similarity._normed(embeddings).join(
        embeddings.select("vec_id", "label"), "vec_id"
    )
    a = n.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
        F.col("label").alias("alab"),
    )
    cos = F.round(
        similarity.dot(F.col("av"), F.col("v")) / (F.col("anrm") * F.col("nrm")), 6
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    want = {
        (r["anchor_id"], r["rk"]): (r["negative_id"], r["cosine"])
        for r in (
            a.join(n, F.col("alab") != F.col("label"))
            .select(
                "anchor_id",
                F.col("vec_id").alias("negative_id"),
                (cos + F.lit(0.0)).alias("cosine"),
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .collect()
        )
    }
    assert got == want

    # anchor never appears as its own negative; labels always differ
    labels = {r["vec_id"]: r["label"] for r in embeddings.select("vec_id", "label").collect()}
    for (aid, _), (nid, _) in got.items():
        assert nid != aid
        assert labels[nid] != labels[aid]

    # batch-boundary invariance: 20 partitions of ~2 rows each
    reparted = similarity.mine_hard_negatives(
        embeddings.repartition(20), anchors, k=5
    )
    got2 = {
        (r["anchor_id"], r["rk"]): (r["negative_id"], r["cosine"])
        for r in reparted.collect()
    }
    assert got2 == got


def test_kmeans_fit_predict_separates_planted_clusters(spark):
    """Parity-pinned k-means: on a corpus with k well-separated
    planted directions, fit+predict recovers the planting — every
    vector lands with its direction-mates, each input gets exactly
    one row, and the assignment is invariant to input partitioning.
    (Seed 11 seeds all four planted groups; seeds whose md5 draw puts
    two init centroids in one group merge clusters — standard Lloyd's
    degeneracy, not a defect.)"""
    import math

    from gnip_trend_detection_spark.extras.similarity import kmeans_fit_predict

    k, per, d = 4, 30, 8
    rows = []
    for c in range(k):
        for j in range(per):
            # cluster c points at axis c with a small deterministic wobble
            v = [0.05 * math.sin(1.0 + 7.0 * c + 3.0 * j + i) for i in range(d)]
            v[c] += 1.0
            rows.append((c * per + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = kmeans_fit_predict(df, n_centroids=k, n_iter=2, seed=11).collect()
    assert len(out) == k * per
    assert {r["vec_id"] for r in out} == {i for i in range(k * per)}

    planted: dict[int, set] = {}
    for r in out:
        planted.setdefault(r["vec_id"] // per, set()).add(r["cluster"])
        assert 0.0 <= r["cos_r"] <= 1.0 + 1e-9
    # each planted group maps to ONE fitted cluster, and distinct
    # groups map to distinct clusters
    assert all(len(cl) == 1 for cl in planted.values()), planted
    assert len({next(iter(cl)) for cl in planted.values()}) == k

    again = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_fit_predict(
            df.repartition(13), n_centroids=k, n_iter=2, seed=11
        ).collect()
    }
    assert again == {r["vec_id"]: r["cluster"] for r in out}


def test_kmeans_silhouette_separated_vs_mixed(spark):
    """Two tight orthogonal bundles -> mean silhouette near 1 for the
    clusters that hold them; per-vector sil is (c1-c2)/(1-c2) on the
    pinned rounded cosines — verify one cluster's value against a
    brute-force recomputation from kmeans_fit_predict + centroids."""
    from gnip_trend_detection_spark.extras.similarity import (
        kmeans_centroids,
        kmeans_silhouette,
    )

    # 24 vectors: 12 near e1, 12 near e2 (slight deterministic jitter)
    rows = []
    for i in range(24):
        base = [0.0, 0.0, 0.0, 0.0]
        base[i % 2] = 1.0
        base[2 + (i % 2)] = 0.001 * (i % 5)
        rows.append((i, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_silhouette(df, n_centroids=2, n_iter=2, seed=7).collect()
    assert len(out) == 2
    assert sum(r["n_vecs"] for r in out) == 24
    for r in out:
        assert r["mean_silhouette"] > 0.9  # well-separated bundles

    # degenerate: all identical vectors -> the Lloyd update collapses
    # both centroids onto one survivor; with a single centroid there
    # is no "nearest other" and silhouette is honestly NULL (the same
    # NULL the SQL twin produces), never a crash
    same = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(8)], "vec_id long, embedding array<double>"
    )
    out2 = kmeans_silhouette(same, n_centroids=2, n_iter=1, seed=7).collect()
    assert len(out2) == 1 and out2[0]["n_vecs"] == 8
    assert out2[0]["mean_silhouette"] is None


def test_embedding_shift_identical_and_shifted(spark):
    """Identical ref/cur slices -> zero shift, cosine 1; a constant
    +2 shift on one dimension -> l2_shift == max_dim_shift == 2."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.extras.similarity import embedding_shift

    same = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0], 0) for i in range(8)],
        "vec_id long, embedding array<double>, label int",
    )
    r = embedding_shift(same).collect()[0]
    assert r["n_ref"] == 4 and r["n_cur"] == 4
    assert r["l2_shift"] == 0.0 and r["mean_cosine"] == 1.0

    rows = []
    for i in range(8):
        v = [1.0, 0.0] if i % 2 == 0 else [3.0, 0.0]  # cur dim0 +2
        rows.append((i, v, 1))
    shifted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    r2 = embedding_shift(shifted).collect()[0]
    assert r2["l2_shift"] == 2.0 and r2["max_dim_shift"] == 2.0
    assert r2["mean_cosine"] == 1.0  # same direction, different norm

    # custom split column: ref = vec_id < 4
    r3 = embedding_shift(shifted, split_col=F.col("vec_id") < 4).collect()[0]
    assert r3["n_ref"] == 4 and r3["n_cur"] == 4
    # each side now mixes both values equally -> means match -> 0
    assert r3["l2_shift"] == 0.0


def test_cluster_purity_matches_assignment_contingency(spark, embeddings):
    """Purity rows must equal a brute-force contingency recomputation
    from the SAME pinned assignment (kmeans_fit_predict), including
    the smallest-label majority tiebreak."""
    from collections import Counter

    from gnip_trend_detection_spark.extras.similarity import (
        cluster_purity,
        kmeans_fit_predict,
    )

    got = {r["cluster"]: r for r in cluster_purity(embeddings).collect()}
    assigned = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_fit_predict(embeddings).collect()
    }
    labels = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    per_cluster: dict[int, Counter] = {}
    for vid, cl in assigned.items():
        per_cluster.setdefault(cl, Counter())[labels[vid]] += 1
    assert set(got) == set(per_cluster)
    for cl, cnt in per_cluster.items():
        n = sum(cnt.values())
        maj_label, maj_c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0])
        )  # most votes, smallest label on ties
        r = got[cl]
        assert r["n_vecs"] == n
        assert r["majority_label"] == maj_label, (cl, dict(cnt))
        assert r["purity"] == round(maj_c / n, 6)

    # exact 50/50 tie -> majority must be the SMALLEST label
    tie = spark.createDataFrame(
        [(i, [1.0, 0.0], i % 2) for i in range(8)],
        "vec_id long, embedding array<double>, label int",
    )
    t = cluster_purity(tie, n_centroids=2, n_iter=1).collect()
    assert all(r["majority_label"] == 0 and r["purity"] == 0.5 for r in t)


def test_cluster_nmi_bounds_and_hand_value(spark):
    """NMI on the fixture is in [0, 1]; a label-identical clustering
    cross-check: cluster the one-hot bundles where cluster == label
    exactly -> NMI 1 when the fit separates them, and a scipy-free
    hand recomputation from the contingency matches."""
    import math
    from collections import Counter

    from gnip_trend_detection_spark.extras.similarity import (
        cluster_nmi,
        kmeans_fit_predict,
    )
    from gnip_trend_detection_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    r = cluster_nmi(embs).collect()[0]
    assert 0.0 <= r["nmi"] <= 1.0
    assert r["n_clusters"] >= 2 and r["n_labels"] == 10

    # hand recomputation from the same assignment
    assigned = {
        x["vec_id"]: x["cluster"] for x in kmeans_fit_predict(embs).collect()
    }
    labels = {x["vec_id"]: x["label"] for x in embs.collect()}
    joint = Counter((assigned[v], labels[v]) for v in assigned)
    n = sum(joint.values())
    mc = Counter()
    ml = Counter()
    for (cl, lb), c in joint.items():
        mc[cl] += c
        ml[lb] += c
    mi = sum(
        (c / n) * math.log(c * n / (mc[cl] * ml[lb]))
        for (cl, lb), c in joint.items()
    )
    hc = -sum((v / n) * math.log(v / n) for v in mc.values())
    hl = -sum((v / n) * math.log(v / n) for v in ml.values())
    assert abs(r["nmi"] - round(mi / math.sqrt(hc * hl), 6)) < 1e-9


def test_embedding_simhash_hand_bits_and_buckets(spark):
    """Bit j of the sketch for e_0 (one-hot on dim 0) is exactly the
    sign bit s_j0 of the md5-derived matrix; identical vectors share a
    sketch (bucket_size 2); a negated vector flips every bit."""
    from gnip_trend_detection_spark.extras.similarity import (
        embedding_simhash,
        simhash_sign_matrix,
    )

    dim, n_bits, seed = 8, 6, 42
    signs = simhash_sign_matrix(n_bits, dim, seed)
    e0 = [1.0] + [0.0] * (dim - 1)
    neg = [-x for x in e0]
    rows = [(1, e0), (2, list(e0)), (3, neg)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r
        for r in embedding_simhash(
            df, n_bits=n_bits, seed=seed, dim=dim
        ).collect()
    }
    want_bits = sum((1 << j) for j in range(n_bits) if signs[j][0] > 0)
    assert got[1]["sketch"] == want_bits
    assert got[2]["sketch"] == want_bits
    assert got[1]["bucket_size"] == 2
    # negation: proj flips sign; proj==0 never happens here (|proj|=1e6)
    flipped = sum((1 << j) for j in range(n_bits) if signs[j][0] < 0)
    assert got[3]["sketch"] == flipped
    assert got[3]["bucket_size"] == 1


def test_embedding_simhash_rejects_dim_mismatch(spark):
    """A vector whose length differs from dim must fail LOUDLY, not
    collapse into some sketch bucket."""
    import pytest as _pytest

    from gnip_trend_detection_spark.extras.similarity import embedding_simhash

    df = spark.createDataFrame(
        [(1, [0.5] * 8)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="mismatch|shape|dimension"):
        embedding_simhash(df, n_bits=4, seed=42, dim=16).collect()


def test_pq_perfectly_codable_corpus_has_zero_error(spark):
    """16 distinct vectors, one copy each, k=16: init picks all of
    them, every vector is its own centroid, reconstruction error 0."""
    import numpy as np

    from gnip_trend_detection_spark.extras.pq import pq_fit_encode

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).round(3).tolist()) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_fit_encode(df, m=2, k=16, n_iter=1, seed=11).collect()
    assert len(out) == 16
    assert all(r["err_r"] == 0.0 for r in out)
    # distinct vectors must get distinct (code_0, code_1) pairs
    assert len({(r["code_0"], r["code_1"]) for r in out}) == 16


def test_pq_codes_partition_invariant_and_bounded(spark):
    import numpy as np

    from gnip_trend_detection_spark.extras.pq import pq_fit_encode

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(8).round(3).tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, pq_fit_encode(df, m=2, k=4, seed=11).collect()))
    b = sorted(
        map(
            tuple,
            pq_fit_encode(df.repartition(9), m=2, k=4, seed=11).collect(),
        )
    )
    assert a == b
    assert all(0 <= r[1] < 4 and 0 <= r[2] < 4 and r[3] >= 0.0 for r in a)
