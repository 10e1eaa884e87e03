"""Text-analysis operators for training-data pipelines.

All built-in-function compositions (split/HOFs/md5) — fully JVM-side,
no Python in the hot path, linear scans with map-side combine only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gnip_trend_detection_spark.functions.core import materialize_col

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

LANG_WORDLISTS = {
    "en": EN_STOPWORDS,
    "es": ("el", "la", "de", "y", "en", "que", "los", "un", "por", "con"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "dans", "est"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "auf"),
}


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != F.lit(""))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = docs.withColumn("toks", tokens(F.col(text_col))).filter(F.size("toks") > 0)
    n = F.size("toks").cast("double")
    chars = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.round(chars / n, 4).alias("avg_token_len"),
    )


BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting for LLM-data budgeting: whitespace words vs a
    BPE-ish segmentation (letter runs / digit runs / single
    punctuation — a cheap deterministic proxy for subword tokenizers)
    plus bytes-per-token, all JVM-side regex."""
    lt = F.lower(F.col(text_col))
    t = docs.withColumn("lt", lt).withColumn(
        "bpe", F.regexp_extract_all(F.col("lt"), F.lit(BPE_ISH), 0)
    )
    n_bpe = F.size("bpe")
    return t.filter(n_bpe > 0).select(
        "doc_id",
        F.size(tokens(F.col("lt"))).cast("long").alias("n_words"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.round(F.length("lt").cast("double") / n_bpe, 4).alias("bytes_per_token"),
    )


def fertility_by_lang(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Per-language tokenizer fertility table — the budget-planning
    view multilingual mixtures need (a language whose tokenizer emits
    2.1 subwords per word consumes 2.1x the context budget per word,
    so token budgets and char budgets diverge by language):

        fertility_micro = 1e6 * BPE-ish subword tokens / words
        bytes_per_token_micro = 1e6 * chars / subword tokens

    Integer sums per language (exact, merge-order-proof); the two
    ratios are emitted as integer MICRO-units computed entirely in
    integer arithmetic — ``(2*1e6*num + den) div (2*den)`` is exact
    half-up rounding of ``1e6*num/den`` with no float anywhere, so
    no engine-dependent ROUND(double) boundary exists (the failure
    class that made the 6-decimal-double form of this query
    hash-flip on one driver environment; same discipline as
    quality_micro below). ANSI overflow throws loudly past ~4.6e12
    tokens per language; widen to DECIMAL(38,0) if a single language
    ever exceeds trillions of tokens. One scan, one #langs-group
    hash agg with map-side combine — zero joins, zero extra
    shuffles.
    """
    lt = F.lower(F.col(text_col))
    t = docs.select(
        F.col(lang_col).alias("lang"),
        F.length(lt).alias("n_chars_l"),
        F.size(tokens(lt)).alias("n_words"),
        F.size(F.regexp_extract_all(lt, F.lit(BPE_ISH), 0)).alias("n_bpe"),
    ).filter(F.col("n_bpe") > 0)
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
            F.sum("n_chars_l").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.expr(
                "(2000000L * n_bpe_tokens + n_words) div (2L * n_words)"
            ).alias("fertility_micro"),
            F.expr(
                "(2000000L * n_chars + n_bpe_tokens) div (2L * n_bpe_tokens)"
            ).alias("bytes_per_token_micro"),
        )
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic heuristic quality in [0,1]: length, lexical
    diversity, word length, stopword density — equal weights.

    Emitted as integer MICRO-units (`quality_micro` = score * 1e6,
    rounded once to an integer) rather than a 6-decimal double:
    decimal-rounding a double is engine-dependent at ties (Java's
    BigDecimal half-up reads the shortest decimal string, DuckDB
    multiplies and floors), and at sf0.1 four of 5000 docs landed
    exactly on such a tie. A single double multiply + round-to-integer
    is bit-identical across engines except at exact binary .5, where
    both round away from zero — the same discipline as the integer-
    cent money sums."""
    t = docs.withColumn("toks", tokens(F.col(text_col))).filter(F.size("toks") > 0)
    return t.select(
        "doc_id",
        quality_micro_expr(F.col("toks")).alias("quality_micro"),
    )


def quality_micro_expr(toks_col: Column) -> Column:
    """:func:`quality_score`'s blend as a pure expression of an
    already-tokenized array — shared with q_quality_blend's fused
    single-scan path so the two can never drift."""
    n = F.size(toks_col).cast("double")
    nd = F.size(F.array_distinct(toks_col)).cast("double")
    chars = F.aggregate(
        F.transform(toks_col, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    stops = F.size(F.filter(toks_col, lambda x: x.isin(*EN_STOPWORDS))).cast(
        "double"
    )
    quality = (
        F.least(n / 200.0, F.lit(1.0)) * 0.25
        + (nd / n) * 0.25
        + F.least((chars / n) / 8.0, F.lit(1.0)) * 0.25
        + (stops / n) * 0.25
    )
    return F.round(quality * 1000000.0).cast("long")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 100000,
) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, §A1.1):
    word-count bounds, mean-word-length band [3, 10], >=80% words
    containing an alphabetic char, >=2 stopword hits. Every gate
    compares INTEGERS ONLY (mean word length as 3·n <= chars <= 10·n,
    the alpha fraction as 5·n_alpha >= 4·n) — no ratio ever
    materializes, so no float boundary exists for engines to disagree
    on. One zero-shuffle scan: all counts are per-row array HOFs.
    NULL-text docs are dropped (a quality gate has nothing to grade;
    keeping them would also diverge from the SQL twin, where NULL
    propagates through list functions instead of folding to 0).

    Reference corpus-curation parity target: the rule FAMILY from the
    published Gopher paper; the reference engine itself has no
    curation surface (extension beyond Gnip-Trend-Detection)."""
    t = docs.filter(F.col(text_col).isNotNull()).withColumn(
        "toks", tokens(F.col(text_col))
    )
    n = F.size("toks").cast("long")
    chars = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    n_alpha = F.size(F.filter(F.col("toks"), lambda x: x.rlike("[a-z]"))).cast(
        "long"
    )
    n_stop = F.size(
        F.filter(F.col("toks"), lambda x: x.isin(*EN_STOPWORDS))
    ).cast("long")
    out = t.select(
        "doc_id",
        n.alias("n_words"),
        chars.alias("word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_hits"),
    )
    wc_ok = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    mwl_ok = (F.lit(3) * F.col("n_words") <= F.col("word_chars")) & (
        F.col("word_chars") <= F.lit(10) * F.col("n_words")
    )
    alpha_ok = F.lit(5) * F.col("n_alpha_words") >= F.lit(4) * F.col("n_words")
    stop_ok = F.col("n_stop_hits") >= 2
    return out.select(
        "*",
        wc_ok.alias("wc_ok"),
        mwl_ok.alias("mwl_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (wc_ok & mwl_ok & alpha_ok & stop_ok).alias("keep"),
    )


def lang_pred_from_toks(toks_col: Column) -> Column:
    """Row-local struct(predicted_lang, n_stopword_hits) over an
    already-tokenized (non-null) array: per-language token-occurrence
    hit counts against the LITERAL wordlists, argmax by
    (n_hits desc, lang asc) as an array_min over (-n_hits, lang)
    structs. Value-identical to the exploded broadcast-join + grouped
    struct-min shape it replaces: the hit count per (doc, lang) is the
    number of token occurrences in that language's word set either
    way (wordlists are disjoint-free constants, each token matches at
    most one word per language), zero-hit languages never entered the
    argmax (inner join) and are filtered here, and the lexicographic
    struct order is the same tuple. 'und'/0 when no list matches."""
    def _hits(ws: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks_col, lambda x: x.isin(*ws)))

    cands = F.array(
        *[
            F.struct(
                (-_hits(ws)).alias("neg"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(LANG_WORDLISTS.items())
        ]
    )
    best = F.array_min(F.filter(cands, lambda s: s["neg"] < 0))
    return F.struct(
        F.coalesce(best["lang"], F.lit("und")).alias("predicted_lang"),
        F.coalesce(-best["neg"].cast("long"), F.lit(0).cast("long")).alias(
            "n_stopword_hits"
        ),
    )


def lang_id(spark: SparkSession, docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-free heuristic language ID: argmax stopword-hit count
    against per-language wordlists; ties broken lexicographically;
    'und' when no list matches.

    The wordlists are compile-time constants (4 langs x 10 words), so
    the whole decision is a row-local expression of the token array —
    the previous shape (explode every token, broadcast-join the word
    'dim', two grouped aggregates, left-join back onto the corpus)
    paid two corpus-token shuffles and a join for a 40-way set
    membership (guide §1.2 order-1, §2.4). Value identity is argued
    in :func:`lang_pred_from_toks`; docs with NULL text or zero
    tokens produced no exploded rows before and fold to the same
    ('und', 0) through the empty-array coalesce here. The token array
    is materialized once per row through the generate barrier
    (:func:`materialize_col`) so the 8 references inside the argmax
    struct do not re-tokenize."""
    toks = F.coalesce(
        tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    t = materialize_col(docs.select("doc_id", text_col), toks, "__toks")
    p = lang_pred_from_toks(F.col("__toks"))
    return t.select(
        "doc_id",
        p["predicted_lang"].alias("predicted_lang"),
        p["n_stopword_hits"].alias("n_stopword_hits"),
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Within-document repetition (the Gopher/MassiveText-style
    quality signal): the fraction of token n-gram OCCURRENCES that are
    repeats of an n-gram already seen in the same document —
    dup_ngram_frac = 1 - distinct/total. High values flag boilerplate
    and degenerate loops. Pure array HOFs, shuffle-free."""
    t = docs.withColumn("toks", tokens(F.col(text_col))).filter(
        F.size("toks") >= n
    )
    from gnip_trend_detection_spark.extras.dedup import shingles

    grams = shingles(F.col("toks"), n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return t.select(
        "doc_id",
        total.cast("long").alias("n_ngrams"),
        distinct.cast("long").alias("n_distinct_ngrams"),
        dup_ngram_frac_expr(F.col("toks"), n).alias("dup_ngram_frac"),
    )


def dup_ngram_frac_expr(toks_col: Column, n: int = 2) -> Column:
    """:func:`repetition_stats`' dup_ngram_frac as a pure expression of
    an already-tokenized array (only defined for size >= n rows) —
    shared with q_quality_blend's fused single-scan path."""
    from gnip_trend_detection_spark.extras.dedup import shingles

    grams = shingles(toks_col, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.round(
        F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6
    )


FP_BASE = 257
FP_MOD = 2147483647  # 2^31 - 1; acc*BASE + c stays < 2^63


def fingerprint(docs: DataFrame, text_col: str = "text", k: int = 8) -> DataFrame:
    """Document fingerprint: minimum Karp-Rabin polynomial hash over
    all character k-grams of the lowercased text — a winnowing-style
    signature, stable under reordering of surrounding content.

    hash(gram) = Horner fold (acc*257 + codepoint) mod (2^31-1).
    Computed in a vectorized mapInPandas stage (k numpy passes over
    all window positions at once) — ~10x faster than per-gram digest
    expressions, and the same SQL-expressible recurrence the DuckDB
    oracle runs.
    """
    import numpy as np
    import pandas as pd

    lt = F.lower(F.col(text_col))
    t = docs.select("doc_id", lt.alias("lt")).filter(F.length("lt") >= k)

    def fp(batches):
        for pdf in batches:
            out = []
            for s in pdf["lt"]:
                try:
                    codes = np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(
                        np.int64
                    )
                except UnicodeEncodeError:
                    codes = np.fromiter(map(ord, s), dtype=np.int64, count=len(s))
                n_win = codes.size - k + 1
                h = np.zeros(n_win, dtype=np.int64)
                for j in range(k):
                    h = (h * FP_BASE + codes[j : j + n_win]) % FP_MOD
                out.append(int(h.min()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "fingerprint": out})

    return t.mapInPandas(fp, "doc_id long, fingerprint long")


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): over the doc's Karp-Rabin k-gram hash
    sequence, keep the minimum of every w-hash window, dedupe. The
    winnowing guarantee: any substring match of length >= w + k - 1
    between two docs shares at least one selected fingerprint — so
    equality joins on these fingerprints find long shared spans with
    DENSITY-BOUNDED signatures (<= 2/(w+1) of positions selected in
    expectation) instead of `duplicated_spans`' every-gram index.
    Docs shorter than k + w - 1 chars have no full window and drop.

    Same hash recurrence and vectorized mapInPandas stage as
    :func:`fingerprint` (its global-min signature is the w = ∞
    degenerate case); the window-min is one O(n·w) numpy pass per
    batch. Emits distinct (doc_id, fingerprint) rows — the index
    relation a shared-span probe equi-joins on. One scan, the Arrow
    stage, no shuffle (the downstream join/distinct pays the keyed
    exchange).
    """
    import numpy as np
    import pandas as pd

    from gnip_trend_detection_spark.functions.parallel import (
        ensure_map_parallelism,
    )

    lt = F.lower(F.col(text_col))
    t = ensure_map_parallelism(
        docs.select("doc_id", lt.alias("lt")).filter(
            F.length("lt") >= k + w - 1
        )
    )

    def wf(batches):
        for pdf in batches:
            ids: list[int] = []
            fps: list[int] = []
            for doc_id, s in zip(pdf["doc_id"], pdf["lt"]):
                try:
                    codes = np.frombuffer(
                        s.encode("ascii"), dtype=np.uint8
                    ).astype(np.int64)
                except UnicodeEncodeError:
                    codes = np.fromiter(map(ord, s), dtype=np.int64, count=len(s))
                n_win = codes.size - k + 1
                h = np.zeros(n_win, dtype=np.int64)
                for j in range(k):
                    h = (h * FP_BASE + codes[j : j + n_win]) % FP_MOD
                sel = np.unique(
                    np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
                )
                ids.extend([doc_id] * sel.size)
                fps.extend(int(x) for x in sel)
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    return t.mapInPandas(wf, "doc_id long, fingerprint long")


def tfidf_top_terms(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed idf:
    ln((N+1)/(df+1)) + 1, the sklearn TfidfVectorizer form).

    Plan shape at 100 TB: one explode scan feeding two hash aggs with
    map-side combine — tf on (doc_id, term) and df on term — then one
    shuffle join on term (term vocab << corpus; AQE picks broadcast
    when the df side fits) and a per-doc window top-k. The corpus size
    N rides along as a broadcast 1-row cross join, never a collect.
    Scores are rounded to 6 decimals so the (score, term) ordering is
    identical across engines.
    """
    toks = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    score = F.round(
        F.col("tf").cast("double")
        * (F.log((F.col("n_docs") + 1.0) / (F.col("df").cast("double") + 1.0)) + 1.0),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "score", "rk")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval scoring of every document against a fixed
    term set — the lexical-retrieval half of a dedup/curation/RAG
    pipeline (e.g. "find the training docs most similar to this eval
    prompt" before semantic rerank).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the Lucene idf = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Plan shape at 100 TB: ONE corpus scan computes per-doc (dl, per-
    term tf) row-locally with array HOFs (the query is a handful of
    terms — O(|terms|·dl) per doc, no explode). N, avgdl, AND every
    term's df all come from ONE 1-row aggregate over that relation
    (df(t) = count of docs with tf_t > 0 — no distinct-token explode
    branch), attached back as a single broadcast cross join. No
    corpus-side shuffle at all; the only exchange is the 1-row
    aggregation, and the corpus is tokenized twice (agg + scoring
    branch), down from three times in the explode formulation.

    Emits (doc_id, n_hit, score) for docs matching >= 1 term.
    """
    terms = sorted(set(query_terms))
    tarr = F.array(*[F.lit(t) for t in terms])
    from gnip_trend_detection_spark.functions.parallel import (
        ensure_map_parallelism,
    )

    src = ensure_map_parallelism(
        docs.select("doc_id", F.col(text_col).alias("__t"))
    )
    t = src.select("doc_id", tokens(F.col("__t")).alias("toks"))
    dl = F.size("toks").cast("double")
    tfs = F.transform(
        tarr, lambda term: F.size(F.filter(F.col("toks"), lambda x: x == term))
    )
    # per_doc feeds the corpus stats AND the scoring pass; it is
    # |terms|+2 columns per doc (output-sized), so a lazy persist runs
    # the tokenize + per-term tf HOF map once instead of twice (guide
    # §5.2); the §2.2 guard above keeps it off 1-2 local splits.
    per_doc = t.select("doc_id", dl.alias("dl"), tfs.alias("tfs")).persist()

    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        F.array(
            *[
                F.sum(
                    F.when(F.get(F.col("tfs"), i) > 0, 1).otherwise(0)
                ).cast("double")
                for i in range(len(terms))
            ]
        ).alias("dfarr"),
    )

    scored = per_doc.crossJoin(F.broadcast(stats))
    idx = F.sequence(F.lit(0), F.lit(len(terms) - 1))
    contrib = F.transform(
        idx,
        lambda i: (
            F.when(
                F.get(F.col("tfs"), i) > 0,
                F.log(
                    1.0
                    + (F.col("n_docs") - F.get(F.col("dfarr"), i) + 0.5)
                    / (F.get(F.col("dfarr"), i) + 0.5)
                )
                * (
                    F.get(F.col("tfs"), i).cast("double")
                    * (k1 + 1.0)
                    / (
                        F.get(F.col("tfs"), i).cast("double")
                        + k1
                        * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                    )
                ),
            ).otherwise(F.lit(0.0))
        ),
    )
    n_hit = F.size(F.filter(F.col("tfs"), lambda x: x > 0)).cast("long")
    score = F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x)
    return (
        scored.select(
            "doc_id",
            n_hit.alias("n_hit"),
            F.round(score, 6).alias("score"),
        )
        .filter(F.col("n_hit") > 0)
    )


def unigram_logppl(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document log-perplexity under the corpus's own unigram LM —
    the cheap stand-in for the KenLM quality filter in CCNet-style
    curation (docs far from the corpus distribution score high).

    p(w) = count(w) / total_tokens over the whole corpus (MLE; every
    scored token was seen, so no smoothing term is needed), and
    log_ppl(d) = -(1/|d|) * sum_i ln p(w_i), computed from per-doc
    term frequencies: sum_w tf_dw * ln p(w).

    Same scale shape as tfidf_top_terms: explode scan → two hash aggs
    → one term join (AQE broadcasts the LM side when it fits) → per-
    doc re-aggregation. Rounded to 6 decimals for cross-engine parity.
    """
    toks = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    lm = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = lm.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        tf.join(lm, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                -F.sum(
                    F.col("tf").cast("double")
                    * F.log(F.col("cnt").cast("double") / F.col("total"))
                )
                / F.sum("tf").cast("double")
            ).alias("raw"),
        )
        .select("doc_id", "n_tokens", F.round("raw", 6).alias("log_ppl"))
    )


def bigram_logppl(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document log-perplexity under the corpus's own add-one
    smoothed BIGRAM LM — one step up the KenLM ladder from
    ``unigram_logppl``: word order now matters, so shuffled or
    template-stitched text scores high even when its unigram profile
    matches the corpus.

    p(w2|w1) = (c12 + 1) / (c1 + V): c12 = corpus bigram count, c1 =
    corpus count of w1 as a bigram PREFIX (sum over successors — the
    conditional denominator, so rows sum to 1 exactly), V = distinct
    unigram vocabulary of the bigram-bearing corpus. Smoothing is
    required (unlike the unigram case) because held-in docs still
    contain corpus-unique bigrams whose MLE would be log 0.
    log_ppl2(d) = -(1/|bigrams_d|) * sum ln p, via per-doc bigram term
    frequencies. Docs with < 2 tokens have no bigram support and are
    dropped. Rounded to 6 decimals per the file-wide parity policy.

    Scale shape — same as unigram_logppl one arity up: explode scan →
    (doc, w1, w2) hash agg → corpus LM roll-up (a further agg of that
    relation, map-side combined) → prefix roll-up → two term joins
    (AQE broadcasts the LM sides when they fit) → per-doc
    re-aggregation. V attaches as a 1-row broadcast. No all-pairs, no
    windows, nothing single-partition.

    V is derived from the LM's key set instead of a third tokenize
    pass over the corpus: every token of a >= 2-token doc occurs as w1
    or w2 of one of its bigrams (position i < n-1 is a prefix,
    position n-1 a successor), so distinct(w1 ∪ w2) over the corpus
    bigrams IS the distinct unigram vocabulary of the bigram-bearing
    corpus — value-identical, oracle re-verified (guide §1.2: don't
    compute what another relation already holds).
    """
    t = docs.select("doc_id", tokens(F.col(text_col)).alias("toks")).filter(
        F.size("toks") > 1
    )
    pairs = t.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(toks, 1, size(toks) - 1)"),
                F.expr("slice(toks, 2, size(toks) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    tf = pairs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    lm = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    pre = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = lm.select(F.explode(F.array("w1", "w2")).alias("w")).agg(
        F.count_distinct("w").cast("double").alias("vsz")
    )
    return (
        tf.join(lm, ["w1", "w2"])
        .join(pre, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            (
                -F.sum(
                    F.col("tf").cast("double")
                    * F.log(
                        (F.col("c12").cast("double") + F.lit(1.0))
                        / (F.col("c1").cast("double") + F.col("vsz"))
                    )
                )
                / F.sum("tf").cast("double")
            ).alias("raw"),
        )
        .select("doc_id", "n_bigrams", F.round("raw", 6).alias("log_ppl2"))
    )


def kneser_ney_logppl(
    docs: DataFrame, text_col: str = "text", discount: float = 0.75
) -> DataFrame:
    """Per-document log-perplexity under an interpolated KNESER-NEY
    bigram LM trained on the corpus itself — the actual smoothing the
    KenLM quality filters use (CCNet-style curation), one rung above
    ``bigram_logppl``'s add-one: instead of pretending every unseen
    successor is equally likely, mass discounted from observed bigrams
    is re-spent on the CONTINUATION distribution (how many distinct
    contexts a word completes), so "francisco" stops looking probable
    outside "san francisco".

      p_KN(w2|w1) = (c12 − D)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/N1+(··)

    with D = ``discount`` (0.75, Chen & Goodman's fixed estimate; a
    dyadic constant so the arithmetic is exactly reproducible),
    c12/c1 the bigram/prefix counts, N1+(w1·) distinct successors of
    w1, N1+(·w2) distinct predecessors of w2, N1+(··) total distinct
    bigram types. Every held-in bigram has c12 ≥ 1 > D, so p > 0 with
    no extra floor. log_ppl_kn(d) = −(1/|bigrams_d|)·Σ tf·ln p; docs
    with < 2 tokens are dropped; 6-decimal rounding per the file-wide
    parity policy.

    Scale shape — identical to bigram_logppl plus two more vocab-sized
    roll-ups of the SAME (w1, w2, c12) relation (successor counts per
    w1 ride the existing prefix agg; predecessor counts per w2 and the
    1-row type total are one agg each): explode scan → (doc, w1, w2)
    hash agg → three LM roll-ups → keyed joins (AQE broadcasts the LM
    sides when they fit) → per-doc re-aggregation. No windows, no
    all-pairs, nothing single-partition.
    """
    t = docs.select("doc_id", tokens(F.col(text_col)).alias("toks")).filter(
        F.size("toks") > 1
    )
    pairs = t.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(toks, 1, size(toks) - 1)"),
                F.expr("slice(toks, 2, size(toks) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    tf = pairs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    lm = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    pre = lm.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_succ")
    )
    cont = lm.groupBy("w2").agg(F.count(F.lit(1)).alias("n_pred"))
    tot = lm.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    d = F.lit(float(discount))
    p_kn = (F.col("c12").cast("double") - d) / F.col("c1").cast("double") + (
        d * F.col("n_succ").cast("double") / F.col("c1").cast("double")
    ) * (F.col("n_pred").cast("double") / F.col("n_types"))
    return (
        tf.join(lm, ["w1", "w2"])
        .join(pre, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            (
                -F.sum(F.col("tf").cast("double") * F.log(p_kn))
                / F.sum("tf").cast("double")
            ).alias("raw"),
        )
        .select("doc_id", "n_bigrams", F.round("raw", 6).alias("log_ppl_kn"))
    )


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-unigram Shannon entropy (bits/char) —
    the compressibility stand-in quality signal: keyboard mash,
    repeated padding, and template boilerplate all sit far from
    natural text's ~4 bits/char, in opposite directions, so curation
    stacks gate on both tails.

    H(d) = -sum_c p_c * log2 p_c over the doc's character counts.
    Docs with empty text have no distribution and are dropped.
    Rounded to 6 decimals per the file-wide parity policy.

    Scale shape: one character explode (rows = corpus chars — the
    same order of work as tokenization), one (doc, char) hash agg
    (map-side combined; fan-in per doc is bounded by the alphabet),
    a doc-partitioned unordered window for the total (reuses the
    agg's partitioning, no extra exchange), one per-doc
    re-aggregation. Zero joins, nothing single-partition.
    """
    from pyspark.sql import Window

    ch = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    cnt = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id")).cast("double")
    p = F.col("c").cast("double") / n
    cnt = cnt.withColumn("term", -p * F.log2(p)).withColumn(
        "n", n.cast("long")
    )
    return (
        cnt.groupBy("doc_id")
        .agg(F.max("n").alias("n_chars_t"), F.sum("term").alias("raw"))
        .select(
            "doc_id", "n_chars_t", F.round("raw", 6).alias("entropy_bits")
        )
    )


def dsir_logratio(
    docs: DataFrame, target: Column, text_col: str = "text"
) -> DataFrame:
    """DSIR-style importance score for target-domain data selection
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): per-doc length-normalized log importance
    ratio between a unigram LM fit on the ``target`` subset and one
    fit on the whole raw corpus,

        score(d) = (1/|d|) * sum_w tf_dw * (ln p_t(w) - ln p_r(w)),

    with add-one smoothing over the raw vocabulary V (every scored
    word is in the raw corpus, but may be absent from the target):
    p_t(w) = (c_t(w)+1)/(N_t+V), p_r(w) = (c_r(w)+1)/(N_r+V).
    Raw docs scoring high look like the target domain — resampling by
    score is the curation move ("select web text that looks like
    Wikipedia") that a per-doc classifier needs a training set for
    and this needs none.

    Scale shape (one arity up from unigram_logppl): explode scan →
    (doc, w) tf agg → doc_id equi-join of the one-column target flag
    → w-keyed LM agg with conditional sums (both LMs in ONE pass) →
    1-row totals broadcast → tf⋈LM w-keyed join → per-doc re-agg.
    Every join is keyed; AQE broadcasts the LM side when it fits.
    Rounded to 6 decimals per the repo parity policy.
    """
    flags = docs.select("doc_id", target.cast("boolean").alias("__is_t"))
    toks = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tft = tf.join(flags, "doc_id")
    lm = tft.groupBy("term").agg(
        F.sum("tf").alias("c_r"),
        F.sum(F.when(F.col("__is_t"), F.col("tf")).otherwise(F.lit(0))).alias(
            "c_t"
        ),
    )
    totals = lm.agg(
        F.sum("c_r").cast("double").alias("n_r"),
        F.sum("c_t").cast("double").alias("n_t"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    term_ratio = F.log(
        (F.col("c_t").cast("double") + 1.0) / (F.col("n_t") + F.col("v"))
    ) - F.log(
        (F.col("c_r").cast("double") + 1.0) / (F.col("n_r") + F.col("v"))
    )
    return (
        tf.join(lm, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.sum(F.col("tf").cast("double") * term_ratio)
                / F.sum("tf").cast("double")
            ).alias("raw"),
        )
        .select("doc_id", "n_tokens", F.round("raw", 6).alias("dsir_score"))
    )


PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "555-[0-9]{4}"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Count and redact PII-shaped spans (emails, seeded phone
    numbers) — the compliance scrub pass of a curation pipeline.

    Both patterns are deliberately in the RE2-compatible subset so the
    Java-regex engine (Spark) and RE2 (DuckDB/ripgrep-style engines)
    agree byte-for-byte; the redacted text is emitted as an md5 so the
    oracle compares content without hauling full text through the
    canonicalizer. Pure per-row map: zero shuffle, scales as a scan.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_hash"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed token-window chunks with overlap —
    the context-length-fitting pass of a pretraining / RAG pipeline.

    Chunk i covers tokens [i*stride, i*stride + max_tokens) with
    stride = max_tokens - overlap; the last chunk keeps the tail even
    when shorter. A doc with <= max_tokens tokens yields exactly one
    chunk. Emits (doc_id, chunk_id, chunk_tokens, chunk_text).

    Plan shape: one scan, a bounded posexplode (ceil(n/stride) rows
    per doc — output-proportional, never quadratic), zero shuffles.
    posexplode_outer + isnotnull(chunk_id) avoids the
    InferFiltersFromGenerate pitfall (see SCALE.md): a plain
    posexplode would push the full tokenization expression into a
    synthesized scan filter and double the tokenize work.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    t = docs.select(
        "doc_id", tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("toks") - F.lit(overlap)) / F.lit(float(stride))),
    ).cast("int")
    t = t.select(
        "doc_id",
        "toks",
        F.posexplode_outer(F.sequence(F.lit(0), n_chunks - 1)).alias(
            "pos", "chunk_id"
        ),
    ).filter(F.col("chunk_id").isNotNull())
    start = F.col("chunk_id") * stride
    return t.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(F.size("toks") - start, F.lit(max_tokens))
        .cast("long")
        .alias("chunk_tokens"),
        F.array_join(F.slice("toks", start + 1, max_tokens), " ").alias(
            "chunk_text"
        ),
    )


def pmi_bigrams(
    docs: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Collocation extraction: pointwise mutual information of adjacent
    token pairs, ``pmi = log2(p(w1,w2) / (p(w1) p(w2)))`` (Church &
    Hanks 1990) — the phrase-mining / tokenizer-merge-candidate pass of
    a corpus pipeline.

    Plan: one tokenize pass feeds both the unigram and the bigram
    count (two hash aggs over exploded tokens, map-side combined); the
    bigram relation then joins the vocabulary-sized unigram counts
    twice (AQE broadcasts them when the vocab is small; at web scale
    they shuffle on the word key, which is the natural partitioning).
    Corpus totals attach as 1-row broadcast cross joins, never a
    collect. ``min_count`` prunes the long noise tail before the
    joins. PMI is computed in doubles as ``c12 * (N/c1) * (N/c2) / B``
    (no N^2 intermediate — N^2 overflows int64 at ~1e13 tokens) and
    rounded to 6 decimals, the file-wide policy for libm-sensitive
    outputs.
    """
    # localCheckpoint, NOT persist: the tokenized relation feeds three
    # branches, but a persist here is never unpersisted (the operator
    # returns before materialization) and would pin cache across a
    # long-lived session's whole query sweep — CacheManager holds
    # persisted plans until an explicit unpersist, while checkpoint
    # blocks are released when the relation is garbage-collected.
    t = docs.select(tokens(F.col(text_col)).alias("toks")).localCheckpoint()
    uni = t.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = t.filter(F.size("toks") > 1).select(
        F.explode(
            F.zip_with(
                F.expr("slice(toks, 1, size(toks) - 1)"),
                F.expr("slice(toks, 2, size(toks) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("N"))
    n_big = pairs.groupBy().agg(F.count(F.lit(1)).cast("double").alias("B"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    ratio = (
        F.col("c12").cast("double")
        * (F.col("N") / F.col("c1").cast("double"))
        * (F.col("N") / F.col("c2").cast("double"))
        / F.col("B")
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            F.round(F.log2(ratio), 6).alias("pmi"),
        )
    )


def fuzzy_vocab_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_dist: int = 2,
    max_word_len: int = 24,
) -> DataFrame:
    """Fuzzy vocabulary self-join (typo/variant clustering) via
    SymSpell-style deletion neighborhoods: every word generates its
    |w| one-character-deletion variants (plus itself), candidates are
    the words sharing a variant — an EQUI-join on the variant key,
    never an all-pairs comparison — and `levenshtein` verifies the
    survivors.

    The 1-deletion neighborhood provably covers every edit-distance-1
    pair and the deletion/substitution portion of distance-2 (both
    sides deleting one char); the fan-out is |w|+1 rows per word,
    bounded by ``max_word_len``, and everything is keyed on
    vocabulary-sized relations — the same bucket-then-verify shape as
    the LSH and fingerprint dedup paths.
    """
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") <= max_word_len)
        .distinct()
    )
    variants = F.array_append(
        F.expr(
            "transform(sequence(1, length(w)),"
            " i -> concat(substr(w, 1, i - 1), substr(w, i + 1, length(w))))"
        ),
        F.col("w"),
    )
    keyed = vocab.select("w", F.explode(variants).alias("v"))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.w") < F.col("b.w")))
        .select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .distinct()
        .withColumn("dist", F.levenshtein("w1", "w2"))
        .filter(F.col("dist").between(1, max_dist))
    )


def zipf_slope(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Per-language Zipf fit: regress ln(frequency) on ln(rank) over
    the full vocabulary — the corpus-health diagnostic data curators
    watch (natural language sits near slope -1; template spam,
    boilerplate floods, and synthetic fill bend it away). Rank is
    ROW_NUMBER by (count DESC, term ASC): the term tiebreak makes the
    rank — and therefore the fit — fully deterministic.

    Slope uses the exact-sum least-squares form
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), the same cross-engine-stable
    formula as operators/models/linreg.py.

    Plan: explode -> (lang, term) hash agg (map-side combined) ->
    rank window PARTITIONED by lang (parallel across languages; the
    relation is already collapsed to distinct terms, so window input
    is vocabulary-sized, not corpus-sized) -> per-lang aggregate.
    Languages with a single vocabulary type are dropped (slope
    undefined: zero x-variance).
    """
    t = docs.select(
        F.col(lang_col).alias("lang"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = t.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "term")
    r = tf.select("lang", "cnt", F.row_number().over(w).alias("rk"))
    x = F.log(F.col("rk").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    s = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n_types").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.filter(F.col("n_types") > 1).select(
        "lang",
        "n_types",
        "n_tokens",
        (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
    )


def vocab_growth(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heaps'-law vocabulary-growth curve: for each decile prefix of
    the corpus (by doc_id order), how many docs/tokens have been seen
    and how large the vocabulary is. Sub-linear growth (V ~ n^beta,
    beta ~ 0.5) is the natural-text signature; a vocabulary that
    flattens early means template spam, one that grows linearly means
    noise/IDs — the companion diagnostic to zipf_slope.

    "Cumulative distinct over a stream" sounds inherently sequential;
    relationally it decomposes into two embarrassingly-parallel facts:
    a term is IN the decile-d vocabulary iff its FIRST occurrence doc
    is <= the decile-d doc_id threshold. So:
      1. (term, min(doc_id)) — one keyed aggregation;
      2. decile thresholds from the two-phase exact-quantile histogram
         (operators/quantile.py — quantile_cont semantics, no
         single-partition sort);
      3. each term/doc row joins the broadcast 10-row threshold
         relation on an inequality (bounded nested-loop on 10 rows —
         each input row expands to at most 10) and counts per decile —
         the cumulative curve falls out because a term counts in
         EVERY decile at/after its first appearance.

    Returns (decile, n_docs, n_tokens, vocab_size) — all exact
    integers; decile d covers doc_id <= quantile_cont(doc_id, d/10).
    """
    from gnip_trend_detection_spark.operators.quantile import exact_quantiles

    qs = [i / 10.0 for i in range(1, 11)]
    # localCheckpoint the 10-row threshold relation: both the vocab and
    # sizes branches probe it, and without materialization the static
    # plan expands the whole two-phase quantile subtree twice
    thr = (
        exact_quantiles(docs, "doc_id", qs)
        .select(
            F.round(F.col("q") * 10).cast("long").alias("decile"),
            F.col("quantile_value").alias("qv"),
        )
        .localCheckpoint()
    )
    t = docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    firsts = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vocab = (
        firsts.join(F.broadcast(thr), F.col("first_doc") <= F.col("qv"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    sizes = (
        t.select("doc_id", F.size("toks").cast("long").alias("n_toks"))
        .join(F.broadcast(thr), F.col("doc_id") <= F.col("qv"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )
    return sizes.join(vocab, "decile").select(
        "decile", "n_docs", "n_tokens", "vocab_size"
    )


def source_js_divergence(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source Jensen-Shannon divergence between the source's
    unigram distribution and the WHOLE corpus's — "which ingest stream
    stopped looking like the corpus" as one number per source in
    [0, ln 2]. The lexical companion to the value-level drift pair
    (extras/drift.py): PSI/KS watch a numeric column, this watches the
    text itself.

        JS(P||Q) = (KL(P||M) + KL(Q||M)) / 2,  M = (P + Q) / 2

    computed term-by-term from EXACT integer counts (source tf and
    corpus tf) — terms absent from a source contribute only through
    the corpus side of M, and every term the corpus has appears in
    exactly one grouped relation, so the sum is complete without any
    grid generation.

    Plan: one (source, term) hash aggregate (map-side combined) →
    term-keyed corpus rollup derived FROM it (no second scan) →
    broadcast per-source + corpus totals onto the term relation → one
    per-source sum. Two keyed exchanges on the tf relation
    (vocabulary-sized, sub-corpus); everything after is bounded.

    Returns (source, n_tokens, js) — js rounded to 6.
    """
    # localCheckpoint: three consumers (corpus rollup, per-source
    # totals, the probe join) would otherwise each re-expand the
    # explode + groupBy subtree — one materialized vocabulary-sized
    # relation replaces three corpus scans
    tf = (
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_src"))
        .localCheckpoint()
    )
    corpus = tf.groupBy("term").agg(F.sum("c_src").alias("c_all"))
    totals = tf.groupBy("source").agg(F.sum("c_src").alias("n_src"))
    n_all = corpus.agg(F.sum("c_all").alias("n_all"))
    # every (source, term-the-corpus-has) pair matters: a term the
    # source LACKS still contributes through Q's KL term, so join the
    # full grid source x corpus-term, not just tf. The #sources-row
    # side broadcasts; the vocabulary-sized side streams (BNLJ over a
    # bounded build, never a CartesianProduct)
    small = totals.crossJoin(F.broadcast(n_all))
    grid = corpus.select("term", "c_all").crossJoin(F.broadcast(small))
    joined = grid.join(tf, ["source", "term"], "left").select(
        "source",
        "n_src",
        "n_all",
        (F.coalesce("c_src", F.lit(0)) / F.col("n_src")).alias("p"),
        (F.col("c_all") / F.col("n_all")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2.0
    term = (
        F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
        + F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    ) / 2.0
    return joined.groupBy("source", "n_src").agg(
        (F.round(F.sum(term), 6) + F.lit(0.0)).alias("js")
    ).select("source", F.col("n_src").alias("n_tokens"), "js")


NORM_URL_RE = r"https?://[a-z0-9./_-]+"
NORM_WS_RE = r"[ \t\r\n]+"


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Pre-tokenization text normalization — the first map pass of
    every curation pipeline: lowercase, URL masking, whitespace
    collapse, edge trim. Both regexes stay in the RE2-compatible
    subset (same discipline as pii_scrub) so Spark's Java engine and
    the SQL twin's RE2 agree byte-for-byte; the normalized text is
    emitted as an md5 + length so the oracle compares content without
    hauling full strings through the canonicalizer. Pure per-row map:
    zero shuffle, scales as a scan.

    Returns (doc_id, n_urls, norm_hash, norm_len, shrunk) — shrunk
    marks docs the normalization actually changed.
    """
    t = F.lower(F.col(text_col))
    masked = F.regexp_replace(t, NORM_URL_RE, "<URL>")
    collapsed = F.trim(F.regexp_replace(masked, NORM_WS_RE, " "))
    return docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.regexp_count(t, F.lit(NORM_URL_RE)).cast("long").alias("n_urls"),
        F.md5(collapsed.cast("binary")).alias("norm_hash"),
        F.length(collapsed).cast("long").alias("norm_len"),
        (collapsed != F.col(text_col)).alias("shrunk"),
    )
