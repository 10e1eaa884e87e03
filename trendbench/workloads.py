"""The three workloads. Each is a chain of public engine calls, one per
layer, ending in a written result; the benchmark times the chain, and
the traced run materialises every prefix of it.

A stage's ``after`` names the stage whose prefix time is subtracted to
get this layer's own time (None: the layer starts from its own input).
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import os
from typing import Callable, NamedTuple

import numpy as np

import check
import gen
from gnip_trend_detection_spark.extras.dedup import (
    duplicate_clusters,
    lsh_candidate_pairs,
    minhash_signatures,
)
from gnip_trend_detection_spark.operators.detect import detect_threshold
from gnip_trend_detection_spark.operators.library import build_library
from gnip_trend_detection_spark.operators.models.poisson import poisson_lc
from gnip_trend_detection_spark.operators.models.wdt import weighted_data_templates
from gnip_trend_detection_spark.operators.rebin import rebin
from gnip_trend_detection_spark.sources.csv import load_counts_csv
from gnip_trend_detection_spark.sources.jsonl import load_documents_jsonl
from gnip_trend_detection_spark.sources.tables import counts_from_events
from pyspark.sql import functions as F


THETA_POISSON = 1.5
ALPHA = 0.99
THETA_WDT = 1.0
WDT = dict(series_length=50, reference_length=210, baseline_offset=40, n_smooth=80, lam=1.0)
JACCARD_MIN = 0.7  # the CLI's default --threshold
MIN_WARM = 3


class Stage(NamedTuple):
    layer: str
    call: Callable  # (spark, state) -> DataFrame
    after: str | None


class Workload:
    name: str
    nominal_pass_s: float  # warm pass time on the reference host
    stages: list[Stage]

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.out = os.path.join(work, "out")

    def passes(self, seconds: float) -> int:
        """Timed warm passes per run: a fixed count for a given
        --seconds (one more untimed pass precedes them), so every run
        attempts the same operations whatever the host's speed."""
        return max(MIN_WARM, round(seconds / self.nominal_pass_s) - 1)

    def trace_rounds(self, seconds: float) -> int:
        """Traced rounds per run; a round (one pass plus every prefix)
        costs about three passes."""
        return max(2, round(seconds / (3 * self.nominal_pass_s)))

    def sink(self, df) -> None:
        df.write.mode("overwrite").parquet(self.out)

    def check_output(self) -> list[str]:
        raise NotImplementedError

    def check_deep(self, spark) -> list[str]:
        return []


class AnalyzeCounts(Workload):
    """Counts CSV -> rebin -> Poisson (lc) -> threshold -> CSV, the
    CLI's `analyze` with its default model."""

    name = "analyze_counts"
    nominal_pass_s = 2.4
    n_counters, rows_per_counter = 60, 500

    def generate(self):
        self.csv = os.path.join(self.work, "counts.csv")
        truth = gen.counts_csv(self.csv, self.seed, self.n_counters, self.rows_per_counter)
        self.rebinned = check.expected_rebin(truth)
        self.sure, self.near = check.expected_poisson_detections(
            self.rebinned, ALPHA, THETA_POISSON
        )
        self.stages = [
            Stage("sources.csv", lambda sp, s: load_counts_csv(sp, self.csv), None),
            Stage("operators.rebin", lambda sp, s: rebin(s["sources.csv"], "hours"), "sources.csv"),
            Stage(
                "operators.models.poisson",
                lambda sp, s: poisson_lc(s["operators.rebin"], alpha=ALPHA),
                "operators.rebin",
            ),
            Stage(
                "operators.detect",
                lambda sp, s: detect_threshold(s["operators.models.poisson"], THETA_POISSON),
                "operators.models.poisson",
            ),
        ]

    def sink(self, df) -> None:
        df.write.option("header", True).mode("overwrite").csv(self.out)

    def check_output(self) -> list[str]:
        rows = []
        for part in glob.glob(os.path.join(self.out, "part-*")):
            with open(part, newline="") as f:
                for r in csv.DictReader(f):
                    rows.append(
                        (r["counter"], _epoch(r["interval_start"]), r["count"], r["eta"])
                    )
        return check.check_detections(self.sure, self.near, THETA_POISSON, rows)

    def check_deep(self, spark) -> list[str]:
        got = (
            rebin(load_counts_csv(spark, self.csv), "hours")
            .select("counter", F.col("bin_start").cast("long"), "count")
            .collect()
        )
        return check.check_rebin(self.rebinned, got)


class ScoreTemplates(Workload):
    """Events parquet -> interval counts -> rebin -> weighted data
    templates (default implementation) against a library built from
    labelled series -> threshold -> parquet."""

    name = "score_templates"
    nominal_pass_s = 2.5
    n_counters, n_hours, n_library, library_len = 4, 217, 20, 260

    def generate(self):
        self.sf = os.path.join(self.work, "tables")
        self.lib = os.path.join(self.work, "library.parquet")
        self.counts, self.t0, self.names, self.library = gen.events_parquet(
            self.sf, self.seed, self.n_counters, self.n_hours, self.lib,
            self.n_library, self.library_len,
        )
        self.stages = [
            Stage("sources.tables", lambda sp, s: counts_from_events(sp, self.sf, 3600), None),
            Stage(
                "operators.rebin",
                lambda sp, s: rebin(s["sources.tables"], "hours"),
                "sources.tables",
            ),
            Stage("operators.library", lambda sp, s: self._library(sp), None),
            Stage(
                "operators.models.wdt",
                lambda sp, s: self._wdt(s["operators.rebin"], s["operators.library"]),
                "operators.rebin",
            ),
            Stage(
                "operators.detect",
                lambda sp, s: detect_threshold(s["operators.models.wdt"], THETA_WDT),
                "operators.models.wdt",
            ),
        ]

    def _library(self, spark):
        return build_library(
            spark.read.parquet(self.lib), WDT["reference_length"],
            WDT["baseline_offset"], WDT["n_smooth"],
        )

    @staticmethod
    def _wdt(rebinned, library):
        p = WDT
        return weighted_data_templates(
            rebinned, library, series_length=p["series_length"],
            reference_length=p["reference_length"], lam=p["lam"],
            baseline_offset=p["baseline_offset"], n_smooth=p["n_smooth"],
        )

    def _detected(self):
        import pyarrow.parquet as pq

        t = pq.read_table(self.out)
        t = dict(t.to_pydict(), interval_start=t.column("interval_start"))
        return list(zip(t["counter"], _epochs(t["interval_start"]), t["count"], t["eta"]))

    def check_output(self) -> list[str]:
        errs = []
        index = {n: i for i, n in enumerate(self.names)}
        for c, t, n, eta in self._detected():
            h = (t - self.t0) // 3600
            if not eta > THETA_WDT:
                errs.append(f"detection {(c, t)} has eta {eta} <= {THETA_WDT}")
            elif c not in index or not 0 <= h < self.n_hours:
                errs.append(f"detection {(c, t)} outside the input")
            elif self.counts[index[c], h] != n:
                errs.append(f"detection {(c, t)}: count {n}, planted {self.counts[index[c], h]}")
        return errs[:5]

    def check_deep(self, spark) -> list[str]:
        rng = np.random.default_rng([self.seed, 4])
        sample = sorted(rng.choice(self.n_counters, 2, replace=False).tolist())
        names = [self.names[i] for i in sample]
        rebinned = rebin(counts_from_events(spark, self.sf, 3600), "hours").filter(
            F.col("counter").isin(names)
        )
        got = (
            self._wdt(rebinned, self._library(spark))
            .select("counter", F.col("interval_start").cast("long"), "eta")
            .collect()
        )
        expected = {}
        for i, name in zip(sample, names):
            etas = check.wdt_etas(self.counts[i].astype(np.float64), self.library, WDT)
            for h, e in enumerate(etas):
                expected[(name, self.t0 + 3600 * h)] = e
        detected = {(c, t) for c, t, _, _ in self._detected() if c in names}
        return check.check_wdt(expected, got, THETA_WDT, detected)


class DedupCorpus(Workload):
    """JSONL corpus -> MinHash -> LSH candidate pairs (verified Jaccard
    >= 0.7, as the CLI filters) -> connected components -> parquet."""

    name = "dedup_corpus"
    nominal_pass_s = 2.5
    n_docs = 1000

    def generate(self):
        self.jsonl = os.path.join(self.work, "corpus.jsonl")
        self.planted = gen.corpus_jsonl(self.jsonl, self.seed, self.n_docs)
        self.stages = [
            Stage("sources.jsonl", lambda sp, s: load_documents_jsonl(sp, self.jsonl), None),
            Stage(
                "extras.dedup.minhash",
                lambda sp, s: minhash_signatures(s["sources.jsonl"]),
                "sources.jsonl",
            ),
            Stage(
                "extras.dedup.lsh",
                lambda sp, s: lsh_candidate_pairs(s["extras.dedup.minhash"]).filter(
                    F.col("jaccard") >= JACCARD_MIN
                ),
                "extras.dedup.minhash",
            ),
            Stage(
                "extras.dedup.clusters",
                lambda sp, s: duplicate_clusters(s["extras.dedup.lsh"]),
                "extras.dedup.lsh",
            ),
        ]

    def check_output(self) -> list[str]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.out).to_pydict()
        rows = zip(t["doc_id"], t["cluster_id"], t["cluster_size"], t["is_canonical"])
        return check.check_clusters(self.planted, rows)


WORKLOADS = {w.name: w for w in (AnalyzeCounts, ScoreTemplates, DedupCorpus)}


def _epoch(iso: str) -> int:
    return int(dt.datetime.fromisoformat(iso).timestamp())


def _epochs(col) -> list[int]:
    """Parquet timestamp column (any unit, UTC instants) -> epoch seconds."""
    import pyarrow as pa

    return col.cast(pa.timestamp("s")).cast(pa.int64()).to_pylist()
