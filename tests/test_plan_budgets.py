"""Plan-shape lint over the ENTIRE query registry.

Three invariants that make or break 100 TB viability, asserted from
the physical plan of every registered query at the smoke scale:

1. no CartesianProduct, ever;
2. BroadcastNestedLoopJoin only where the broadcast side is bounded
   by construction (1-row corpus totals / global bounds, the bounded
   WDT library, declared exact-quadratic baselines) — whitelisted
   explicitly so a new unbounded NLJ fails loudly;
3. per-query Exchange ceilings (measured + slack): a refactor that
   silently doubles a query's shuffles fails here before it ships.
   Static counts include branches AQE/ReuseExchange dedupes at
   runtime, so ceilings are upper bounds, not runtime shuffle counts;
4. no unpartitioned Window over unbounded input — Spark plans
   ``F.rank().over(Window.orderBy(...))`` as Exchange SinglePartition
   + one-task sort of the ENTIRE relation, the classic 100 TB cliff.
   Exact global ranks go through operators/rank.py's two-phase
   ``competition_rank`` instead. The check walks WindowExec nodes in
   the physical plan tree (partitionSpec().isEmpty()), not plan text;
   whitelisted queries run their window over a limit-bounded head
   (TakeOrderedAndProject survivors), where a one-partition sort is
   O(top_n) by construction.
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# queries whose BNLJ is a bounded broadcast by construction
BNLJ_OK = {
    "bm25_search",         # broadcast 1-row (N, avgdl) + |terms|-row df map
    "ann_ivf_topk",        # broadcast centroid set (n/centroid_mod rows)
    "ann_topk",            # broadcast query set (declared exact baseline)
    "cosine_neardup_pairs",   # declared exact O(n^2) baseline
    "cosine_neardup_blocked", # broadcast block-id frame (n_blocks rows)
    "correlation_pairs_dense",  # broadcast block ids
    "embedding_covariance",     # broadcast 1-row vector count n
    "decontaminate_bloom",  # broadcast 1-row dense Bloom word array (n_bits/64 longs)
    "dsir_scores",         # broadcast 1-row (N_t, N_r, V) LM totals
    "global_quantiles",    # broadcast len(qs)-row quantile targets
    "quality_percentile_gate",  # broadcast 1-row threshold + 1-row target
    "heavy_hitter_terms",  # broadcast 1-row total-count scalar
    "mix_sources",         # broadcast 1-row admissible-total scalar
    "mix_temperature",     # broadcast 1-row weight-sum scalar
    "pmi_collocations",    # broadcast 1-row corpus totals (N, B)
    "quality_blend",       # inherits unigram_logppl's 1-row total cross join
    "precision_recall",    # broadcast 1-row threshold grid base
    "roc_points",          # broadcast 1-row totals
    "semantic_dedup",      # broadcast centroid set
    "source_overlap",      # broadcast source-size cross (#sources rows)
    "tfidf_top_terms",     # broadcast 1-row corpus size
    "tpch_q11_important_stock",  # broadcast 1-row grand-total scalar
    "tpch_q22_idle_customers",  # broadcast 1-row (sum_cents, n) global avg
    "unigram_logppl",      # broadcast 1-row corpus total
    "bigram_logppl",       # broadcast 1-row vocab size
    "value_histogram",     # broadcast 1-row global bounds
    "psi_drift",           # broadcast 1-row (tmin, tmax) period bounds
    "vocab_growth",        # broadcast 10-row decile thresholds,
                           # inequality-joined (each row expands <= 10x)
    "winsorize_values",    # broadcast 1-row (lo, hi) clamp thresholds
    "source_js",           # broadcast #sources-row totals onto the
                           # vocabulary-sized corpus-term relation
    "categorical_drift",   # broadcast #categories marginals + 1-row
                           # total onto the bucket marginals
    "cluster_nmi",         # broadcast 1-row total + k/label-row
                           # marginals onto the contingency cells
    "ks_drift",            # broadcast 1-row (tmin, tmax) period bounds
    "kn_logppl",           # broadcast 1-row distinct-bigram-type total
    "bpe_contract",        # broadcast 1-row alphabet size onto the
                           # 1-row vocab-stats contract row
}

# measured (2026-08, Spark 4.1) + 2 slack; unlisted queries get DEFAULT
EXCHANGE_CEILING = {
    # r07: band_collision_pairs pins three BY-KEY repartitions (bands,
    # pair dedupe, verify probe side) so AQE's byte-based coalescing
    # can't serialize the CPU-quadratic/byte-light expansion stages
    # (measured 2 tasks x 5.7s at 10x sf0.1) — two extra static
    # exchanges on every banded-LSH path, all keyed, all pair-id-sized.
    # The pins engage only above _expansion_width's byte threshold
    # (fixture scans stay pin-free), so these are ceilings for the
    # pinned shape, not the local one
    "lsh_candidate_pairs": 8,
    "split_leakage": 9,
    "ngram_jaccard": 24,
    # static count re-expands the persisted token-array base under
    # the index build and both verify-join branches, and the cand
    # relation under cand_docs + the final join; the cache collapses
    # those at runtime (same class as ngram_jaccard)
    "set_similarity_join": 26,
    # static count includes the persisted C-row ids subtree once per
    # branch; at runtime the cache collapses those to one computation
    "correlation_pairs_dense": 21,
    "curation_pipeline": 11,
    "unigram_logppl": 9,
    # unigram_logppl's shape + the doc_id flag join feeding the
    # one-pass dual-LM agg: tf agg, flag join, w-keyed LM agg, tf⋈LM
    # join, per-doc re-agg — all keyed exchanges
    "dsir_scores": 9,
    # two grouped-quantile histogram passes (median, then MAD), each
    # a keyed exchange + the checkpointed bounded-offsets machinery,
    # plus the two joins back — static count includes the counts
    # subtree under both passes; AQE/reuse collapse at runtime
    "mad_outliers": 17,
    # one arity up from unigram_logppl: (doc, w1, w2) tf agg + the
    # lm and prefix roll-ups + two term joins, all keyed. r06: the
    # vocab size comes off the lm relation (whose exchange is reused)
    # instead of a separate corpus explode
    "bigram_logppl": 11,
    # bigram_logppl's ladder + the KN continuation roll-ups (distinct
    # successors ride the prefix agg; distinct predecessors and the
    # 1-row type total are one keyed agg each off the same lm
    # relation, whose exchange is reused at runtime); measured 11
    "kn_logppl": 13,
    # three signal sub-plans (logppl alone carries 4) + two doc_id
    # joins + the batched competition_ranks machinery: the static
    # count shows an SMJ exchange pair per rank-column join, but the
    # rank relations are distinct-value-sized off a checkpointed
    # histogram, so AQE broadcasts them at runtime (keyed, bounded)
    "quality_blend": 17,
    # candidate-then-verify across two relations: corpus + bench
    # signature aggs, band-probe distinct, shingle-set distincts +
    # sizes, intersection agg, per-doc hit agg, final left join —
    # every exchange keyed, the bench side broadcast throughout.
    # r06: both signature relations lazily persisted — the static
    # count re-expands the signature-agg exchange under the banding /
    # verify / set-size consumers (collapsed by the cache at
    # runtime); measured 11 in a bare session
    "decontaminate_fuzzy": 13,
    # contingency checkpoint feeds four consumers (joint + both
    # marginals + total); the static plan still counts each branch's
    # exchange — all are contingency-cell-sized (k x labels rows)
    "cluster_nmi": 11,
    # sketch agg (one keyed exchange) + the grouped two-phase exact
    # bracket machinery (histogram agg, range repartition, bounded
    # offsets, target join-back) + the final group equi-join — every
    # exchange keyed; the bracket relation is (#groups x 6) rows
    "value_quantiles_approx": 8,
    "semantic_dedup": 8,
    "tfidf_top_terms": 7,
    "ann_ivf_topk": 7,
    "detection_latency": 7,
    # static count re-expands the persisted (source, gram) relation
    # under both size branches; cache collapses them at runtime
    "source_overlap": 9,
    # three two-phase competition_rank joins: each is a keyed
    # (value-hash) SMJ exchange pair vs the checkpointed score grid —
    # parallel shuffles, deliberately traded for the three
    # single-partition Window sorts the r3 verdict flagged
    "detector_ensemble": 9,
}
DEFAULT_CEILING = 6

# queries whose only unpartitioned Window runs over a bounded
# relation: a limit-bounded head (sort+limit = TakeOrderedAndProject)
# or a per-partition-totals relation (<= shuffle-partition-count rows
# by construction, the two-phase histogram offset shape)
UNPARTITIONED_WINDOW_OK = {
    "detector_ensemble",   # row_number over the top-50 rank_sum head
    "tpch_q3_shipping",    # row_number over the top-10 revenue head
    "global_quantiles",    # offsets over <= n_parts per-pid totals
    "quality_percentile_gate",  # same exact_quantiles offsets shape
    "vocab_growth",        # same exact_quantiles offsets shape (2x:
                           # vocab + sizes branches re-expand it)
    "unimax_budget",       # water-filling windows over the #sources-
                           # row per-source aggregate
    "budget_materialize",  # inherits unimax_budget's bounded windows
                           # (static plan expands them twice)
}


def _unpartitioned_windows(jplan, out):
    name = jplan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _unpartitioned_windows(jplan.initialPlan(), out)
        return
    if name.startswith("Window") and "GroupLimit" not in name:
        if jplan.partitionSpec().isEmpty():
            out.append(name)
    children = jplan.children()
    for i in range(children.size()):
        _unpartitioned_windows(children.apply(i), out)


@pytest.mark.parametrize("name", sorted(__import__("gnip_trend_detection_spark.queries", fromlist=["ALL"]).ALL))
def test_plan_budget(spark, name):
    from gnip_trend_detection_spark import queries as q

    # other tests may have left persisted relations cached, which
    # swaps plan subtrees for InMemoryTableScans and shifts counts —
    # lint the cold plan
    spark.catalog.clearCache()
    df = q.ALL[name](spark, SF)
    jplan = df._jdf.queryExecution().executedPlan()
    plan = jplan.toString()

    unpart = []
    _unpartitioned_windows(jplan, unpart)
    if unpart and name not in UNPARTITIONED_WINDOW_OK:
        raise AssertionError(
            f"{name}: {len(unpart)} unpartitioned Window(s) over unbounded "
            f"input — single-partition sort cliff; use "
            f"operators/rank.py:competition_rank or bound the input first"
        )

    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_OK, f"{name}: unexpected BNLJ\n{plan}"

    n_exchange = len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"ReusedExchange", plan)
    )
    ceiling = EXCHANGE_CEILING.get(name, DEFAULT_CEILING)
    assert n_exchange <= ceiling, (
        f"{name}: {n_exchange} exchanges > ceiling {ceiling}"
    )


@pytest.mark.parametrize("loader", ["load_counts_csv", "load_counts_legacy_csv"])
def test_csv_loader_parses_each_timestamp_once(spark, tmp_path, loader):
    """The timestamp ladder sits behind the materialize_col generate
    barrier, so each format's try_to_timestamp appears ONCE in the
    executed plan: without it the isNotNull filter gets the parse
    substituted in, and every row runs the ladder twice."""
    from collections import Counter

    from gnip_trend_detection_spark.sources import csv

    p = tmp_path / "counts.csv"
    p.write_text("2014-08-24T13:45:10,60,1,a\n")
    plan = (
        getattr(csv, loader)(spark, str(p))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    want = Counter(csv._TS_FORMATS + csv._TS_FORMATS_WEEKDAY_TAIL)
    assert len(re.findall(r"\bgettimestamp\(", plan)) == sum(want.values()) == 23
    for fmt, n in want.items():
        assert plan.count(f", {fmt}, TimestampType") == n, fmt
