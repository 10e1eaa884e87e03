"""Seeded input generators. Pure numpy/pyarrow: nothing here imports
the engine or Spark, so the inputs (and the ground truth the checkers
use) never depend on the code under test.

Every generator returns the ground truth it planted next to the files
it wrote; the same seed always yields byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np

# analyze_counts: quarter-hour aligned starts and durations of 1, 2, 4
# or 8 quarter hours, so every overlap fraction with the hourly grid is
# k/2^j and every split count is exact in binary floating point.
QUARTER = 900
DURATIONS_Q = np.array([1, 2, 4, 8])
EPOCH0 = 1_700_000_000 - (1_700_000_000 % 86400)  # a UTC midnight


def counts_csv(path: str, seed: int, n_counters: int, rows_per_counter: int):
    """Counts CSV in the modern layout (ts, duration_sec, count, counter),
    ISO timestamps, no header. Rows of one counter walk forward in time
    with occasional multi-hour gaps (so rebin zero-fills and compresses)
    and occasional overlaps; rates burst now and then so the Poisson
    model has something to detect.

    Returns a dict counter -> (start_epoch, duration_sec, count) arrays.
    """
    rng = np.random.default_rng([seed, 1])
    truth = {}
    lines = []
    for c in range(n_counters):
        name = f"ctr{c:04d}"
        n = rows_per_counter
        dur = QUARTER * DURATIONS_Q[rng.integers(0, 4, n)]
        # step to the next row's start: usually back-to-back, sometimes
        # overlapping by a quarter, sometimes a gap of 1-12 hours
        step_q = dur // QUARTER + rng.choice(
            [0, 0, 0, 0, 0, 0, -1, 1, 4], size=n
        )
        gap = rng.random(n) < 0.03
        step_q = np.where(gap, step_q + 4 * rng.integers(1, 13, n), step_q)
        step_q = np.maximum(step_q, 1)
        offset_q = rng.integers(0, 96 * 3)
        start = EPOCH0 + QUARTER * (offset_q + np.concatenate([[0], np.cumsum(step_q[:-1])]))
        # events per hour; bursts stay below ~500 per bin so every
        # Poisson quantile the model needs is in its exact (mu <= 700)
        # regime
        base = rng.uniform(3.0, 60.0)
        burst = np.where(rng.random(n) < 0.02, rng.uniform(3.0, 6.0, n), 1.0)
        count = rng.poisson(base * burst * dur / 3600.0).astype(np.int64)
        truth[name] = (start.astype(np.int64), dur.astype(np.int64), count)
        ts = np.datetime_as_string(start.astype("datetime64[s]"), unit="s")
        lines.extend(
            f"{t},{d},{k},{name}" for t, d, k in zip(ts, dur.tolist(), count.tolist())
        )
    # interleave counters the way a real export mixes them
    order = rng.permutation(len(lines))
    _write_text(path, "\n".join(lines[i] for i in order) + "\n")
    return truth


def events_parquet(
    sf_dir: str, seed: int, n_counters: int, n_hours: int, library_path: str,
    n_library: int, library_len: int,
):
    """events.parquet (event_type, ts, value) with at least one event in
    every (counter, hour) — so hourly rebin is dense and its counts are
    the planted ones — plus a labelled library of raw series
    (series_id, is_trend, points) for build_library.

    Returns (hourly counts [n_counters, n_hours], first hour's epoch,
    counter names, library rows).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    t0 = EPOCH0 + 3600 * int(rng.integers(0, 24))
    counts = np.empty((n_counters, n_hours), dtype=np.int64)
    for c in range(n_counters):
        base = rng.uniform(8.0, 30.0)
        rate = np.full(n_hours, base)
        # a few ramps that look like trends to the template library
        for _ in range(int(rng.integers(1, 4))):
            at = int(rng.integers(n_hours // 3, n_hours - 10))
            ln = int(rng.integers(10, 40))
            rate[at : at + ln] *= np.linspace(1.0, rng.uniform(3.0, 6.0), len(rate[at : at + ln]))
        counts[c] = 1 + rng.poisson(rate)
    n = int(counts.sum())
    cnt = counts.ravel()
    etype = np.repeat(np.arange(n_counters), n_hours)
    etype = np.repeat(etype, cnt)
    hour = np.repeat(np.tile(np.arange(n_hours), n_counters), cnt)
    ts_us = (t0 + 3600 * hour + rng.integers(0, 3600, n)).astype(np.int64) * 1_000_000
    order = rng.permutation(n)
    names = np.array([f"type{c:03d}" for c in range(n_counters)], dtype=object)
    table = pa.table(
        {
            "event_type": pa.array(names[etype[order]], type=pa.string()),
            "ts": pa.array(ts_us[order], type=pa.timestamp("us", tz="UTC")),
            "value": pa.array(rng.random(n), type=pa.float64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))

    lib_rows = []
    for sid in range(n_library):
        trend = sid % 2 == 0
        base = rng.uniform(5.0, 40.0)
        rate = np.full(library_len, base)
        if trend:
            ln = int(rng.integers(15, 60))
            rate[-ln:] *= np.linspace(1.0, rng.uniform(3.0, 10.0), ln)
        lib_rows.append((sid, trend, rng.poisson(rate).astype(np.float64)))
    pq.write_table(
        pa.table(
            {
                "series_id": pa.array([r[0] for r in lib_rows], type=pa.int64()),
                "is_trend": pa.array([r[1] for r in lib_rows], type=pa.bool_()),
                "points": pa.array(
                    [r[2].tolist() for r in lib_rows], type=pa.list_(pa.float64())
                ),
            }
        ),
        library_path,
    )
    return counts, t0, names.tolist(), lib_rows


def corpus_jsonl(path: str, seed: int, n_docs: int):
    """JSONL corpus: singletons, exact-copy groups and near-duplicate
    groups (a base document plus variants with one word replaced).
    Documents are 100-160 words from a 20k-word vocabulary, so a
    variant's 3-shingle Jaccard to its base is >= 0.94 and any two
    unrelated documents share essentially no shingle.

    Returns the planted duplicate groups as a list of sorted doc_id
    lists (groups of size >= 2 only).
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 20000)
    docs: list[list[str]] = []
    groups: list[list[int]] = []  # indices into docs
    while len(docs) < n_docs:
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(100, 161)))])
        kind = rng.random()
        idx = [len(docs)]
        docs.append(words)
        if kind < 0.15:  # exact copies
            for _ in range(int(rng.integers(1, 4))):
                idx.append(len(docs))
                docs.append(list(words))
        elif kind < 0.35:  # near duplicates: one substituted word each
            for _ in range(int(rng.integers(1, 5))):
                v = list(words)
                pos = int(rng.integers(0, len(v)))
                v[pos] = v[pos] + "x"  # never equal to the original word
                idx.append(len(docs))
                docs.append(v)
        if len(idx) > 1:
            groups.append(idx)
    docs = docs[:n_docs]
    ids = rng.choice(10 * n_docs, size=len(docs), replace=False).astype(np.int64) + 1
    order = rng.permutation(len(docs))
    lines = [
        json.dumps(
            {"doc_id": int(ids[i]), "text": " ".join(docs[i]), "lang": "en", "source": "web"}
        )
        for i in order
    ]
    _write_text(path, "\n".join(lines) + "\n")
    planted = [sorted(int(ids[i]) for i in g if i < len(docs)) for g in groups]
    return [g for g in planted if len(g) > 1]


def _vocab(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, ln)]))
    return np.array(sorted(words), dtype=object)


def _write_text(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
