"""CSV loaders for the reference's on-disk layouts.

Modern layout (D1, reference README.md:30-38 / example/example.csv):
    interval_start, duration_sec, count, counter
Legacy layout (D2, reference rebin.py:87-98 / example/scotus.txt):
    interval_STOP, rule, count, count_dup, duration_sec

Timestamps in the wild are "anything dateutil parses"
(reference analysis.py:59); here a ladder of explicit formats is tried
with coalesce so the parse stays JVM-side. Malformed rows drop out as
nulls and are filtered (reference behavior: skip on ValueError,
analysis.py:58-61).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gnip_trend_detection_spark import schemas
from gnip_trend_detection_spark.functions.core import materialize_col

# The formats seen in the reference repo + common ISO variants, then
# the frequent dateutil-parseable layouts (month-name, '/'-separated,
# offset-suffixed, RFC/ctime) — the reference accepts anything
# dateutil.parser.parse eats (analysis.py:59), and real-world CSVs
# like "Aug 24 2014 00:00" hit the gap first. Ambiguous x/y/z dates
# resolve month-first like dateutil's US default.
#
# Coalesce stops at the first rung that parses, and every rung that
# fails throws and catches a JVM exception. So the three fixed-width
# layouts reach no failing rung: they come first (compact, ISO 'T',
# ISO space), and the first two sit behind a one-character
# precondition (_TS_GUARDS) that skips the formatter on a row it
# cannot match. A guard must be a NECESSARY condition of its pattern,
# skipping only rows the rung would reject, and no two rungs parse one
# string to different instants; together these keep every result
# independent of rung order (tests/test_csv_sources.py pins both).
# Guards are plain substring compares: an rlike guard costs about as
# much as the exception it avoids. The loaders evaluate the ladder
# once per row behind the materialize_col generate barrier; a plain
# alias would be substituted into the null filter and parsed twice.
_TS_FORMATS = (
    "yyyyMMddHHmmss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd",
    # offset-suffixed ISO (XXX also matches the literal 'Z')
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    # month-name forms: "Aug 24 2014 00:00", "24 Aug 2014 13:45:10"
    "MMM d yyyy HH:mm:ss",
    "MMM d yyyy HH:mm",
    "MMM d, yyyy HH:mm:ss",
    "MMM d, yyyy",
    "d MMM yyyy HH:mm:ss",
    "d MMM yyyy HH:mm",
    "d MMM yyyy",
    # slash-separated (month-first, dateutil's default for x/y/z)
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm",
    "MM/dd/yyyy",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
)

# RFC-2822 / asctime carry a leading weekday name, which Spark >= 3.0
# refuses to PARSE ('E' is format-only). The weekday is redundant for
# the instant, so it's stripped by regexp (weekday names only — a bare
# 3-letter month prefix like "Aug 24 2014" must survive) and the tails
# parse with these:
_TS_FORMATS_WEEKDAY_TAIL = (
    "d MMM yyyy HH:mm:ss",  # RFC-2822: "Sun, 24 Aug 2014 13:45:10"
    "MMM d HH:mm:ss yyyy",  # asctime:  "Sun Aug 24 13:45:10 2014"
)
_WEEKDAY_PREFIX = r"^(?i)(Mon|Tue|Wed|Thu|Fri|Sat|Sun)[a-z]*,?\s+"

# Compact has digits at position 5 where every ISO layout has '-';
# ISO 'T' has its separator at position 11 where ISO space has ' '.
_TS_GUARDS = {
    "yyyyMMddHHmmss": lambda t: F.substring(t, 5, 1) != "-",
    "yyyy-MM-dd'T'HH:mm:ss": lambda t: F.substring(t, 11, 1) != " ",
}


def _rung(t: Column, fmt: str) -> Column:
    parsed = F.try_to_timestamp(t, F.lit(fmt))
    guard = _TS_GUARDS.get(fmt)
    return parsed if guard is None else F.when(guard(t), parsed)


def lenient_timestamp(col: Column) -> Column:
    trimmed = F.trim(col)
    stripped = F.regexp_replace(trimmed, _WEEKDAY_PREFIX, "")
    return F.coalesce(
        *[_rung(trimmed, f) for f in _TS_FORMATS],
        *[
            F.try_to_timestamp(stripped, F.lit(f))
            for f in _TS_FORMATS_WEEKDAY_TAIL
        ],
    )


def load_counts_csv(
    spark: SparkSession,
    paths: str | list[str],
    postfix: str | None = None,
) -> DataFrame:
    """Modern counts CSV → D1 DataFrame.

    ``postfix`` reproduces the reference's recursive directory walk with
    a filename-postfix filter (trend_rebin.py:60-65) as a pathGlobFilter
    — file listing happens on the driver, the scan is distributed.
    """
    reader = spark.read.schema(schemas.COUNTS_CSV).option("mode", "PERMISSIVE")
    if postfix is not None:
        reader = reader.option("recursiveFileLookup", "true").option(
            "pathGlobFilter", f"*{postfix}"
        )
    raw = materialize_col(
        reader.csv(paths),
        lenient_timestamp(F.col("interval_start_raw")),
        "interval_start",
    )
    return (
        raw.select(
            F.trim("counter").alias("counter"),
            "interval_start",
            F.col("duration_sec").cast("double").alias("duration_sec"),
            F.col("count").cast("double").alias("count"),
        )
        .filter(
            F.col("interval_start").isNotNull()
            & F.col("duration_sec").isNotNull()
            & F.col("count").isNotNull()
        )
    )


def load_counts_legacy_csv(
    spark: SparkSession,
    paths: str | list[str],
    rule_name: str | None = None,
) -> DataFrame:
    """Legacy stop-time CSV → D1 DataFrame.

    Start time is derived as stop - duration (reference rebin.py:96-98);
    the optional rule filter is trim-compared on both sides
    (reference utils.py:1-2) and pushes down to the scan.
    """
    raw = materialize_col(
        spark.read.schema(schemas.COUNTS_LEGACY_CSV).csv(paths),
        lenient_timestamp(F.col("interval_stop_raw")),
        "__stop",
    )
    df = raw.select(
        F.trim("rule").alias("counter"),
        (
            F.col("__stop")
            - F.make_dt_interval(secs=F.col("duration_sec").cast("double"))
        ).alias("interval_start"),
        F.col("duration_sec").cast("double").alias("duration_sec"),
        F.col("count").cast("double").alias("count"),
    ).filter(
        F.col("interval_start").isNotNull()
        & F.col("duration_sec").isNotNull()
        & F.col("count").isNotNull()
    )
    if rule_name is not None:
        df = df.filter(F.col("counter") == rule_name.strip())
    return df
