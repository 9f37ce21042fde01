"""Seeded input generator for the benchmark workloads.

Everything here is numpy/pandas/pyarrow, so inputs exist before the
engine under test starts.  The engine receives only the parquet files
written here; the ground truth returned next to them is what the
output checks compare against.

Ticker tables follow FIXTURES.md Set A (fact ``ticker_data`` plus the
``ticker_gran`` and ``ticker_info`` dims) with the planted anomalies of
that spec: spikes, a frozen tail (repetition), truncated series
(staleness), short series and weekly-cadence series.  Timestamps are
written as microsecond parquet: pandas' default nanosecond unit is
refused by Spark 4 (``PARQUET_TYPE_ILLEGAL``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVAL_DATE = np.datetime64("2024-06-30", "us")
EVAL_TS = "2024-06-30 00:00:00"
STDDEV_LIM = 4.5
VALUE_REP_LIM = 3


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write ``df`` as ``n_files`` parquet part files under ``path``."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def _values(rng, n_series: int, n_points: int) -> np.ndarray:
    """``base + trend·t + weekly season + noise`` on the 4-dp grid.

    Noise is bounded and the trend is monotone per series, so clean
    series neither repeat a value nor produce a z-score near the
    4.5 limit; ``ticker_tables`` checks that for every seed.
    """
    base = rng.uniform(20.0, 200.0, (n_series, 1))
    slope = rng.choice([-1.0, 1.0], (n_series, 1)) * rng.uniform(0.02, 0.05, (n_series, 1))
    season = rng.uniform(-0.5, 0.5, (n_series, 7))
    t = np.arange(n_points)
    noise = rng.uniform(-0.1, 0.1, (n_series, n_points))
    vals = base * (1.0 + slope / 100.0 * t) + season[:, t % 7] + noise
    return np.round(vals, 4)


def reference_flags(tail: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Independent numpy form of the spike and repetition rules at the
    newest row of each series.

    ``tail`` holds the newest ``data_periods + 1`` values per series
    (rows), so there are ``data_periods`` one-period differences.
    Returns (z-score, run length) per series: the spike flag is
    ``z >= STDDEV_LIM`` and the repetition flag ``run >= VALUE_REP_LIM``.
    """
    d = np.abs(np.round(np.diff(tail, axis=1), 4))
    avg = d.mean(axis=1)
    sd = d.std(axis=1, ddof=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        z = np.where(sd > 0, np.abs(d[:, -1] - avg) / sd, 0.0)
    run = np.ones(len(tail), dtype=np.int64)
    still = np.ones(len(tail), dtype=bool)
    for j in range(d.shape[1] - 1, -1, -1):
        still &= d[:, j] == 0
        run += still
    return z, run


def ticker_tables(seed: int, n_index: int, n_gran: int, days: int) -> dict:
    """Fact + dims + truth for the daily workloads.

    Series kinds: ``spike`` (a quarter of the series; newest value ×0 or ×10),
    ``repeat`` (newest three values frozen), ``stale`` (series ends 3–6
    days before the eval date), ``short`` (< 28 rows), ``weekly``
    (30 weekly rows), 1% each, and ``clean``.  Every series except ``stale`` has
    a row on the eval date.

    Returns a dict with pandas frames ``fact``, ``gran``, ``info`` and
    ``truth`` (one row per series: keys, kind, whether a complete row
    is expected on the eval date, and the expected spike/repetition
    flags there).
    """
    rng = np.random.default_rng(seed)
    n = n_index * n_gran
    index_id = np.repeat(np.arange(1, n_index + 1), n_gran)
    gran_id = np.tile(np.arange(1, n_gran + 1), n_index)
    kind = np.full(n, "clean", dtype=object)
    order = rng.permutation(n)
    n_spike, n_rare = n // 4, max(2, n // 100)
    cuts = np.cumsum([n_spike, n_rare, n_rare, n_rare, n_rare])
    for name, sel in zip(("spike", "repeat", "stale", "short", "weekly"),
                         np.split(order, cuts)[:5]):
        kind[sel] = name

    vals = _values(rng, n, max(days, 30))
    spike_factor = np.where(rng.random(n) < 0.5, 0.0, 10.0)

    lengths = np.full(n, days)
    lengths[kind == "short"] = rng.integers(10, 21, (kind == "short").sum())
    lengths[kind == "weekly"] = 30
    end_offset = np.zeros(n, dtype=np.int64)  # days before eval date
    end_offset[kind == "stale"] = rng.integers(3, 7, (kind == "stale").sum())
    step = np.where(kind == "weekly", 7, 1)

    rows = int(lengths.sum())
    ser = np.repeat(np.arange(n), lengths)
    # position within the series, 0 = oldest
    pos = np.arange(rows) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    from_end = np.repeat(lengths, lengths) - 1 - pos
    ts = EVAL_DATE - (end_offset[ser] + from_end * step[ser]) * np.timedelta64(1, "D")
    v = vals[ser, np.maximum(vals.shape[1] - 1 - from_end, 0)].copy()
    # planted anomalies on the newest rows
    last = from_end == 0
    sp = last & (kind[ser] == "spike")
    v[sp] = np.round(v[sp] * spike_factor[ser[sp]], 4)
    rp = (from_end <= 2) & (kind[ser] == "repeat")
    anchor = vals[ser[rp], vals.shape[1] - 3]
    v[rp] = anchor

    fact = pd.DataFrame({
        "id": np.arange(rows, dtype=np.int64),
        "index_id": index_id[ser].astype(np.int64),
        "granularity_item_id": gran_id[ser].astype(np.int64),
        "data_timestamp": ts.astype("datetime64[us]"),
        "data_value": v,
    })
    fact["createdate"] = fact["data_timestamp"]

    # truth on the eval date: complete series (>= 28 rows) with a row there
    expected = (lengths >= 28) & (end_offset == 0)
    z = np.zeros(n)
    run = np.ones(n, dtype=np.int64)
    idx = np.flatnonzero(expected)
    ends = np.cumsum(lengths)[idx]
    tail = v[ends[:, None] - 29 + np.arange(29)]
    z[idx], run[idx] = reference_flags(tail)
    truth = pd.DataFrame({
        "index_id": index_id.astype(np.int64),
        "granularity_item_id": gran_id.astype(np.int64),
        "kind": kind.astype(str),
        "expected_row": expected,
        "standard_deviation_flag": (z >= STDDEV_LIM).astype(np.int32),
        "data_repetitions_flag": (run >= VALUE_REP_LIM).astype(np.int32),
        "last_value": v[np.cumsum(lengths) - 1],
    })
    # the plant has to show, and nothing unplanted may sit near a limit
    # where float rounding could decide the flag
    if not ((z[kind == "spike"] > 4.9).all()
            and (run[kind == "repeat"] >= VALUE_REP_LIM).all()
            and (z[expected & (kind != "spike")] < 4.0).all()
            and (run[expected & (kind != "repeat")] < VALUE_REP_LIM).all()):
        raise RuntimeError(f"seed {seed}: planted anomalies not separable")

    gran = pd.DataFrame({
        "id": np.arange(1, n_gran + 1, dtype=np.int64),
        "granularity1": [f"G{i:05d}" for i in range(1, n_gran + 1)],
        "granularity2": [f"g2-{i % 17}" for i in range(1, n_gran + 1)],
        "Description": [f"City {i}, ST" for i in range(1, n_gran + 1)],
        "ShapeFile": [f"shape_{i}.shp" for i in range(1, n_gran + 1)],
    })
    info = pd.DataFrame({
        "id": np.arange(1, n_index + 1, dtype=np.int64),
        "index_name": [f"Index {i} Price" for i in range(1, n_index + 1)],
        "ticker": [f"TK{i:04d}" for i in range(1, n_index + 1)],
        "description": [f"Synthetic price index number {i}" for i in range(1, n_index + 1)],
        "frequency": ["daily"] * n_index,
        "unit_type": ["US Dollars"] * n_index,
        "display_unit_type": ["USD"] * n_index,
        "documentation_url": [f"https://example.org/idx/{i}" for i in range(1, n_index + 1)],
    })
    return {"fact": fact, "gran": gran, "info": info, "truth": truth}


def stream_files(seed: int, n_series: int, n_files: int, path: str) -> dict:
    """Parquet files for the stream workload under ``path``: file 0 is
    a 30-day history (the backfill), then one file per day.

    The backfill gives every series a full 28-difference window before
    the planted events: a single outlier among n differences reaches
    at most z = (n-1)/sqrt(n), which passes 4.5 only from n = 23.
    Planted per series, in the daily files: a spike, a three-value
    repetition, and a five-day hole before a reading (staleness at
    ingest).  About 1% of the daily rows arrive one file
    late but still ahead of their key's newer rows (out of order,
    accepted), and as many again are re-deliveries of a reading two
    days older than their file (late, dropped by the operator).  File
    modification times follow file order, which is the order the file
    source reads them in.

    Returns the in-order rows (what a batch run over the same data
    sees), the planted days and series, and the late-row count.
    """
    if n_files < 12:
        raise ValueError("stream_files needs at least 12 files")
    rng = np.random.default_rng(seed + 7919)
    backfill, late_share = 30, 0.01
    n_days = backfill + n_files - 1
    vals = _values(rng, n_series, n_days)
    spike_day, repeat_day, gap_day = (backfill + n_files * i // 4 for i in (1, 2, 3))
    order = rng.permutation(n_series)
    k = max(2, n_series // 50)
    spiked, repeated, gapped = order[:k], order[k:2 * k], order[2 * k:3 * k]
    vals[spiked, spike_day] = np.round(vals[spiked, spike_day] * 10.0, 4)
    vals[repeated[:, None], repeat_day - np.arange(3)] = vals[repeated, repeat_day - 2][:, None]

    present = np.ones((n_series, n_days), dtype=bool)
    present[gapped[:, None], gap_day - 1 - np.arange(5)] = False
    s_idx, d_idx = np.nonzero(present)
    inorder = pd.DataFrame({
        "series_id": s_idx.astype(np.int64) + 1,
        "data_timestamp": (EVAL_DATE - (n_days - 1 - d_idx) * np.timedelta64(1, "D"))
        .astype("datetime64[us]"),
        "data_value": vals[s_idx, d_idx],
    })
    file_of = np.maximum(d_idx - backfill + 1, 0)
    # out of order: a daily row lands in the next file, only for series
    # clear of the planted events
    quiet = ~np.isin(s_idx, order[:3 * k]) & (d_idx >= backfill) & (d_idx < n_days - 1)
    moved = quiet & (rng.random(len(d_idx)) < late_share)
    file_of[moved] += 1
    # late: a re-delivered reading of day d-2 in day d's file, for
    # series with no hole, so the key's day d-2 row is already consumed
    late_pick = quiet & (rng.random(len(d_idx)) < late_share)
    late = pd.DataFrame({
        "series_id": inorder["series_id"].to_numpy()[late_pick],
        "data_timestamp": inorder["data_timestamp"].to_numpy()[late_pick]
        - np.timedelta64(2, "D"),
        "data_value": np.round(vals[s_idx[late_pick], d_idx[late_pick] - 2] + 1.0, 4),
    })
    late_file = d_idx[late_pick] - backfill + 1

    os.makedirs(path, exist_ok=True)
    t0 = 1_700_000_000
    for f in range(n_files):
        rows = pd.concat([inorder[file_of == f], late[late_file == f]], ignore_index=True)
        rows = rows.iloc[rng.permutation(len(rows))]
        p = os.path.join(path, f"file-{f:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), p,
                       coerce_timestamps="us")
        os.utime(p, (t0 + f, t0 + f))
    day_ts = lambda d: pd.Timestamp(EVAL_DATE - (n_days - 1 - d) * np.timedelta64(1, "D"))
    return {
        "inorder": inorder,
        "n_late": int(late_pick.sum()),
        "n_input": len(inorder) + int(late_pick.sum()),
        "spike": (day_ts(spike_day), spiked + 1),
        "repeat": (day_ts(repeat_day), repeated + 1),
        "gap": (day_ts(gap_day), gapped + 1),
        "compare_days": [day_ts(d) for d in (spike_day, repeat_day, gap_day, n_days - 1)],
    }


VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index price feed daily ticker series "
    "flag spike stale"
).split()


def documents(seed: int, n_base: int, copies: int, n_planted: int) -> dict:
    """``documents``-shaped corpus (doc_id, text, lang, source, n_chars).

    ``n_base`` random documents of 10–100 words from a small vocabulary
    are replicated ``copies`` times with the copy index suffixed to
    every token, so replicas share no shingle and duplicate density
    stays constant as the corpus grows.  ``n_planted`` near-duplicates
    of long documents are added (last word replaced, or one middle word
    replaced when the document has at least 80 words), each with an
    exact word-3-gram Jaccard of at least 0.93 to its source.
    """
    rng = np.random.default_rng(seed + 104729)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_base)
    base = [list(vocab[rng.integers(0, len(vocab), L)]) for L in lengths]
    docs: list[list[str]] = []
    for c in range(copies):
        docs.extend([[f"{t}_{c}" for t in toks] for toks in base])
    long_ids = np.flatnonzero(np.array([len(t) for t in docs]) >= 60)
    src = rng.choice(long_ids, n_planted, replace=False)
    planted = []
    for i, s in enumerate(src):
        toks = list(docs[s])
        at = len(toks) // 2 if len(toks) >= 80 else len(toks) - 1
        suffix = toks[at].rsplit("_", 1)[1]
        toks[at] = f"planted{i}_{suffix}"
        planted.append((int(s), len(docs)))
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    langs = np.array(["en", "de", "fr", "es", "zh"])
    df = pd.DataFrame({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": text,
        "lang": langs[rng.integers(0, 5, len(docs))],
        "source": [f"src{i % 20}" for i in range(len(docs))],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    return {"docs": df, "planted": planted}


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, the same tokenization as ``pipeline.dedup.shingles``."""
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)
