"""End-to-end training-data curation: the composition a practitioner
runs before pretraining, as one reusable dataflow (the CLI `curate`
subcommand and the `curation_pipeline` oracle query both call this).

Stages, in pipeline order:
1. exact-dedup to one canonical doc per content hash (min doc_id);
2. quality gate on the integer micro-unit heuristic score;
3. language ID (broadcast wordlists);
4. benchmark decontamination (token n-gram collision);
5. deterministic per-language stratified sampling.

Every stage is a narrow doc_id-keyed join over one shared scan; see
SCALE.md for the per-stage 100 TB arguments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gnip_trend_detection_spark.extras import decontam, sample, text
from gnip_trend_detection_spark.functions.core import materialize_col


def curate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    quality_min: float = 0.34,
    ngram_n: int = 4,
    fractions: dict[str, float] | None = None,
    default_fraction: float = 0.2,
    seed: int = 42,
) -> DataFrame:
    """Kept rows as (doc_id, predicted_lang, quality): canonical AND
    quality >= quality_min AND zero benchmark n-gram hits AND survives
    the per-predicted-lang hash draw."""
    if fractions is None:
        fractions = {"en": 1.0, "es": 0.5, "de": 0.5, "fr": 0.5}
    docs = corpus.select("doc_id", text_col)
    canon = (
        docs.withColumn(
            "__canon",
            F.min("doc_id").over(
                Window.partitionBy(F.md5(F.col(text_col).cast("binary")))
            ),
        )
        .filter(F.col("doc_id") == F.col("__canon"))
        .drop("__canon")
    )
    # quality_micro and predicted_lang are both pure row-local
    # expressions of the token array (the SAME shared expression trees
    # quality_score and lang_id emit — factored helpers, so they
    # cannot drift), so the gate + language stages run in ONE select
    # over canon instead of two more canon-subtree replays joined back
    # on doc_id (guide §1.2 order-1, §2.4). Set identity with the old
    # three-way inner join: quality_score dropped zero-token docs (the
    # size filter here), lang_id emitted every canon doc (computed in
    # place here), and the decontam join below is unchanged.
    # Integer micro-unit compare: the gate cannot sit on a float
    # rounding tie (quality_min is converted once, driver-side).
    # the token array is materialized ONCE per row via the generate
    # barrier — a plain withColumn alias is inlined into all ~14
    # quality+lang references during optimization, re-tokenizing per
    # reference (measured 2x wall at the 10x replica)
    toks = F.col("__toks")
    pred = text.lang_pred_from_toks(toks)
    scored = (
        materialize_col(
            canon.select("doc_id", text_col),
            text.tokens(F.col(text_col)),
            "__toks",
        )
        .filter(F.size("__toks") > 0)
        .select(
            "doc_id",
            text.quality_micro_expr(toks).alias("quality_micro"),
            pred["predicted_lang"].alias("predicted_lang"),
        )
        .filter(
            F.col("quality_micro") >= int(round(quality_min * 1000000))
        )
    )
    clean = (
        decontam.decontaminate(canon, benchmark, text_col, n=ngram_n)
        .filter(F.col("n_hit") == 0)
        .select("doc_id")
    )
    kept = scored.join(clean, "doc_id")
    out = sample.stratified_sample(
        kept,
        "predicted_lang",
        fractions,
        seed=seed,
        default_fraction=default_fraction,
    )
    return out.select("doc_id", "predicted_lang", "quality_micro")
