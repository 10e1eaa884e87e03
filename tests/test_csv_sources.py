"""CSV loaders and the lenient timestamp ladder (sources/csv.py), on
inputs written to tmp_path — no reference data needed.

The ladder is a coalesce of try_to_timestamp rungs, so its answer
would depend on rung order if two rungs could parse one string to
different instants. The order-independence tests pin that they
cannot, and that the guarded, reordered ladder gives exactly the
first-match answer of the plain ladder in its earlier order.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The ladder in its earlier order, unguarded: the first-match answer
# the guarded ladder must reproduce.
PLAIN_ORDER = (
    "yyyyMMddHHmmss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "MMM d yyyy HH:mm:ss",
    "MMM d yyyy HH:mm",
    "MMM d, yyyy HH:mm:ss",
    "MMM d, yyyy",
    "d MMM yyyy HH:mm:ss",
    "d MMM yyyy HH:mm",
    "d MMM yyyy",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm",
    "MM/dd/yyyy",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
)
PLAIN_TAIL = ("d MMM yyyy HH:mm:ss", "MMM d HH:mm:ss yyyy")

# one string per rung of the main ladder, in PLAIN_ORDER ...
PER_RUNG = (
    "20140824134510",
    "2014-08-24 13:45:10",
    "2014-08-24T13:45:10",
    "2014-08-24 13:45:10.123456",
    "2014-08-24T13:45:10.123456",
    "2014-08-24",
    "2014-08-24T15:45:10+02:00",
    "2014-08-24 13:45:10Z",
    "2014-08-24T13:45:10.123456-03:00",
    "Aug 24 2014 13:45:10",
    "Aug 24 2014 13:45",
    "Aug 24, 2014 13:45:10",
    "Aug 24, 2014",
    "24 Aug 2014 13:45:10",
    "24 Aug 2014 13:45",
    "24 Aug 2014",
    "08/24/2014 13:45:10",
    "08/24/2014 13:45",
    "08/24/2014",
    "2014/08/24 13:45:10",
    "2014/08/24",
)
# ... one per weekday-tail rung ...
PER_TAIL_RUNG = ("Sun, 24 Aug 2014 13:45:10", "Sun Aug 24 13:45:10 2014")
# ... and inputs at the edges of the fixed-width layouts
EDGES = (
    "2014-13-24 13:45:10",  # month 13
    "20141324134510",
    "2014-02-30 13:45:10",  # Feb 30
    "2014-02-30T13:45:10",
    "20140230134510",
    "12:00:00",
    "",
    "2014-8-4",
    "2014-8-4 13:45:10",
    "20140-08-24 13:45:10",  # 5-digit year
    "20140-08-24T13:45:10",
    "201400824134510",
    "201408241345",  # 12-digit compact
    "2014-08-24t13:45:10",  # lowercase t
    "  2014-08-24T13:45:10  ",  # surrounding spaces
    "  20140824134510 ",
    " 2014-08-24 13:45:10\t",
    "2014-08-24T13:45:10 ",
    "2014-08-24 T13:45:10",
    "2014-08-24  13:45:10",
    "-2014-08-24",
    "not-a-date",
)
CORPUS = PER_RUNG + PER_TAIL_RUNG + EDGES


def _plain_first_match(col):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.sources.csv import _WEEKDAY_PREFIX

    trimmed = F.trim(col)
    stripped = F.regexp_replace(trimmed, _WEEKDAY_PREFIX, "")
    return F.coalesce(
        *[F.try_to_timestamp(trimmed, F.lit(f)) for f in PLAIN_ORDER],
        *[F.try_to_timestamp(stripped, F.lit(f)) for f in PLAIN_TAIL],
    )


def _corpus_df(spark):
    return spark.createDataFrame(
        list(enumerate(CORPUS)), "i int, s string"
    )


def test_ladder_formats_match_plain_order():
    """The guarded ladder holds the same rungs as PLAIN_ORDER, only
    reordered — so the first-match comparison below covers all of
    them."""
    from gnip_trend_detection_spark.sources import csv

    assert sorted(csv._TS_FORMATS) == sorted(PLAIN_ORDER)
    assert csv._TS_FORMATS_WEEKDAY_TAIL == PLAIN_TAIL


def test_rungs_never_disagree(spark):
    """Every string parses under at most one instant, whichever rungs
    accept it, so rung order cannot change the answer; each PER_RUNG
    string is accepted by its own rung."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.sources.csv import _WEEKDAY_PREFIX

    trimmed = F.trim("s")
    stripped = F.regexp_replace(trimmed, _WEEKDAY_PREFIX, "")
    rungs = [F.try_to_timestamp(trimmed, F.lit(f)) for f in PLAIN_ORDER] + [
        F.try_to_timestamp(stripped, F.lit(f)) for f in PLAIN_TAIL
    ]
    df = _corpus_df(spark).select(
        "i", *[F.unix_micros(r).alias(f"r{k}") for k, r in enumerate(rungs)]
    )
    n_rungs = len(rungs)
    by_i = {r["i"]: [r[f"r{k}"] for k in range(n_rungs)] for r in df.collect()}
    for i, s in enumerate(CORPUS):
        got = {v for v in by_i[i] if v is not None}
        assert len(got) <= 1, (s, got)
    for k in range(n_rungs):
        assert by_i[k][k] is not None, (CORPUS[k], (PLAIN_ORDER + PLAIN_TAIL)[k])


def test_lenient_timestamp_equals_plain_first_match(spark):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.sources.csv import lenient_timestamp

    rows = (
        _corpus_df(spark)
        .select(
            "s",
            F.unix_micros(lenient_timestamp(F.col("s"))).alias("got"),
            F.unix_micros(_plain_first_match(F.col("s"))).alias("want"),
        )
        .collect()
    )
    assert len(rows) == len(CORPUS)
    assert all(r["got"] == r["want"] for r in rows), [
        (r["s"], r["got"], r["want"]) for r in rows if r["got"] != r["want"]
    ]
    # the corpus exercises both outcomes
    assert sum(r["got"] is None for r in rows) >= 5
    assert sum(r["got"] is not None for r in rows) >= len(PER_RUNG)


def test_loaders_equal_plain_first_match(spark, tmp_path):
    """Both loaders keep exactly the rows the plain ladder parses, at
    the instant it gives (the legacy loader minus the duration)."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.sources.csv import (
        load_counts_csv,
        load_counts_legacy_csv,
    )

    want = {
        r["i"]: r["t"]
        for r in _corpus_df(spark)
        .select("i", F.unix_micros(_plain_first_match(F.col("s"))).alias("t"))
        .collect()
        if r["t"] is not None
    }
    modern = tmp_path / "modern.csv"
    modern.write_text(
        "".join(f'"{s}",60,1,c{i}\n' for i, s in enumerate(CORPUS))
    )
    legacy = tmp_path / "legacy.csv"
    legacy.write_text(
        "".join(f'"{s}",c{i},1,1,60\n' for i, s in enumerate(CORPUS))
    )

    def _starts(df):
        return {
            int(r["counter"][1:]): r["t"]
            for r in df.select(
                "counter", F.unix_micros("interval_start").alias("t")
            ).collect()
        }

    assert _starts(load_counts_csv(spark, str(modern))) == want
    assert _starts(load_counts_legacy_csv(spark, str(legacy))) == {
        i: t - 60_000_000 for i, t in want.items()
    }


def test_legacy_rule_filter_trims_both_sides(spark, tmp_path):
    """S3: the rule filter compares trimmed names on both sides and
    still applies with the parse behind the generate barrier."""
    from gnip_trend_detection_spark.sources.csv import load_counts_legacy_csv

    p = tmp_path / "legacy.csv"
    p.write_text(
        "2014-08-24 01:00:00, #scotus ,3,3,3600\n"
        "2014-08-24 02:00:00,#other,4,4,3600\n"
        "not-a-date,#scotus,5,5,3600\n"
    )
    rows = load_counts_legacy_csv(spark, str(p), rule_name="#scotus ").collect()
    assert [(r["counter"], r["count"]) for r in rows] == [("#scotus", 3.0)]
    assert rows[0]["interval_start"].isoformat() == "2014-08-24T00:00:00"


def test_malformed_rows_dropped(spark, tmp_path):
    """F5: bad dates / missing fields / junk numerics drop out as
    nulls and are filtered — never an exception, never a bad row."""
    from gnip_trend_detection_spark.sources.csv import load_counts_csv

    p = tmp_path / "mixed.csv"
    p.write_text(
        "20240101000000, 60,5,ok\n"
        "not-a-date, 60,5,bad_date\n"
        "20240101000100, 60,,missing_count\n"
        "20240101000200, sixty,5,bad_duration\n"
        "20240101000300, 60,7,ok\n"
        ",,,\n"
    )
    rows = load_counts_csv(spark, str(p)).collect()
    assert {r["counter"] for r in rows} == {"ok"}
    assert sorted(r["count"] for r in rows) == [5.0, 7.0]


def test_lenient_timestamp_dateutil_layouts(spark, tmp_path):
    """The parse ladder covers the common dateutil-parseable layouts
    the reference accepts via dateutil.parser.parse (analysis.py:59):
    month-name, '/'-separated (month-first), offset-suffixed ISO,
    RFC-2822 and asctime forms — all resolving to the same instant."""
    from gnip_trend_detection_spark.sources.csv import load_counts_csv

    p = tmp_path / "formats.csv"
    p.write_text(
        "2014-08-24 13:45:10,60,1,iso\n"
        "20140824134510,60,1,compact\n"
        "Aug 24 2014 13:45:10,60,1,monthname\n"
        "24 Aug 2014 13:45:10,60,1,dayfirstname\n"
        "08/24/2014 13:45:10,60,1,slash\n"
        "2014/08/24 13:45:10,60,1,slashiso\n"
        "2014-08-24T13:45:10Z,60,1,zulu\n"
        "2014-08-24T15:45:10+02:00,60,1,offset\n"
        '"Sun, 24 Aug 2014 13:45:10",60,1,rfc\n'
        "Sun Aug 24 13:45:10 2014,60,1,ctime\n"
    )
    rows = load_counts_csv(spark, str(p)).collect()
    assert len(rows) == 10, sorted(r["counter"] for r in rows)
    instants = {r["interval_start"] for r in rows}
    assert len(instants) == 1, instants


def test_lenient_timestamp_date_only_and_minutes(spark, tmp_path):
    from gnip_trend_detection_spark.sources.csv import load_counts_csv

    p = tmp_path / "f2.csv"
    p.write_text(
        "Aug 4 2014 00:00,3600,2,short_day\n"
        "08/04/2014,86400,2,dateslash\n"
        "2014-08-04,86400,2,dateiso\n"
    )
    rows = {r["counter"]: r["interval_start"] for r in load_counts_csv(spark, str(p)).collect()}
    assert set(rows) == {"short_day", "dateslash", "dateiso"}
    assert rows["dateslash"] == rows["dateiso"]
