"""Seeded raw-quote landing sets for the ``etl`` and ``stream`` workloads.

Rows follow ``RAW_QUOTE_SCHEMA``: every value field is a JSON string, as the
quote API delivers them. Each generator writes its files and returns an
``Expected`` record of what it injected, from which the output checks
predict the pipeline's counts without running Spark.

Dirty rows carry a (symbol, date) key that no clean row has, so cleaning
removes exactly them. In the ``etl`` set, duplicates carry a clean row's key
with a later ``extracted_at`` and a revised close; keep-last dedup must pick
the revision.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

DIRTY_KINDS = ("negative_price", "low_gt_high", "null_field", "non_numeric")
DIRTY_SHARE = 0.01  # per kind, of all base rows
DUP_SHARE = 0.05  # of clean rows, re-extracted later with a revised close
MALFORMED_PER_FILE = 2  # truncated JSON lines per etl landing file

EPOCH = dt.date(2020, 1, 6)
EXTRACTED = dt.datetime(2024, 6, 3, 6, 0, 0)


@dataclass
class Expected:
    """What a generator injected; the output checks compare against it."""

    clean_rows: int = 0
    dirty: dict[str, int] = field(default_factory=lambda: dict.fromkeys(DIRTY_KINDS, 0))
    duplicates: int = 0
    malformed_lines: int = 0
    symbols: int = 0
    # predicted sink content: one row per clean (symbol, date)
    records_loaded: int = 0
    unique_symbols: int = 0
    close_cents_sum: int = 0
    json_lines: int = 0


def _fmt(v: float) -> str:
    return f"{v:.2f}"


def _symbol_series(rng: np.random.Generator, n_days: int):
    """One symbol's clean OHLCV walk: prices in cents, high > low strictly,
    daily close moves well inside the quality gate's ±50 %."""
    close = np.empty(n_days)
    close[0] = rng.uniform(20.0, 500.0)
    steps = rng.normal(0.0, 0.015, n_days - 1)
    close[1:] = close[0] * np.exp(np.cumsum(steps))
    close = np.round(close, 2)
    open_ = np.round(close * (1 + rng.normal(0.0, 0.005, n_days)), 2)
    high = np.round(np.maximum(open_, close) * (1 + rng.uniform(0.002, 0.02, n_days)), 2)
    low = np.round(np.minimum(open_, close) * (1 - rng.uniform(0.002, 0.02, n_days)), 2)
    volume = rng.integers(100_000, 50_000_000, n_days)
    return open_, high, low, close, volume


def _dirty(kind: str, row: dict, rng: np.random.Generator) -> dict:
    row = dict(row)
    if kind == "negative_price":
        row["open"] = "-" + row["open"]
    elif kind == "low_gt_high":
        row["low"], row["high"] = row["high"], row["low"]
    elif kind == "null_field":
        row[("open", "close", "volume")[int(rng.integers(3))]] = None
    else:  # non_numeric
        row[("high", "close", "volume")[int(rng.integers(3))]] = "n/a"
    return row


def _universe(rng: np.random.Generator, n_symbols: int, min_days: int, max_days: int):
    """Per symbol: (name, first day index, base rows, row kinds).

    Histories have uneven lengths (a fixed spread, dealt to symbols by the
    seed) and all end on the same day. Each base row is clean or made dirty
    in one way; ``kinds[i]`` is '' for clean rows. Every seed yields the same
    number of rows of each kind, so run time does not depend on the seed.
    """
    lengths = rng.permutation(np.linspace(min_days, max_days, n_symbols).round().astype(int))
    out = []
    for s, n in enumerate(lengths):
        n = int(n)
        first = max_days - n
        o, h, lo, c, v = _symbol_series(rng, n)
        kinds = np.full(n, "", dtype=object)
        per_kind = round(n * DIRTY_SHARE)
        picks = rng.permutation(n)
        for k, kind in enumerate(DIRTY_KINDS):
            kinds[picks[k * per_kind:(k + 1) * per_kind]] = kind
        name = f"S{s:04d}"
        rows = []
        for i in range(n):
            row = {
                "symbol": name,
                "date": (EPOCH + dt.timedelta(days=first + i)).isoformat(),
                "open": _fmt(o[i]),
                "high": _fmt(h[i]),
                "low": _fmt(lo[i]),
                "close": _fmt(c[i]),
                "volume": str(int(v[i])),
            }
            rows.append(_dirty(kinds[i], row, rng) if kinds[i] else row)
        out.append((name, first, rows, kinds))
    return out


def _write_jsonl(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def make_etl_landing(
    out_dir: str,
    seed: int,
    n_symbols: int,
    min_days: int,
    max_days: int,
    n_files: int = 4,
) -> Expected:
    """One daily landing set: every symbol's history, dirty rows, revised
    duplicates and a few malformed lines, shuffled over ``n_files`` files."""
    rng = np.random.default_rng(seed)
    exp = Expected(symbols=n_symbols)
    stamp = EXTRACTED.isoformat()
    later = (EXTRACTED + dt.timedelta(hours=6)).isoformat()
    lines: list[str] = []
    for _name, _first, rows, kinds in _universe(rng, n_symbols, min_days, max_days):
        clean = np.flatnonzero(kinds == "")
        dup = np.zeros(len(rows), dtype=bool)
        dup[rng.choice(clean, round(len(clean) * DUP_SHARE), replace=False)] = True
        for row, kind, is_dup in zip(rows, kinds, dup):
            if kind:
                exp.dirty[kind] += 1
                lines.append(json.dumps({**row, "extracted_at": stamp, "data_source": "bench"}))
                continue
            exp.clean_rows += 1
            close = row["close"]
            if is_dup:
                # revised close stays inside [low, high] so the revision is clean
                lo, hi = float(row["low"]), float(row["high"])
                close = _fmt(round(lo + (hi - lo) * float(rng.uniform(0.1, 0.9)), 2))
                exp.duplicates += 1
                lines.append(json.dumps({**row, "close": close,
                                         "extracted_at": later, "data_source": "bench"}))
            lines.append(json.dumps({**row, "extracted_at": stamp, "data_source": "bench"}))
            exp.close_cents_sum += round(float(close) * 100)
        exp.unique_symbols += 1
    order = rng.permutation(len(lines))
    shuffled = [lines[i] for i in order]
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(shuffled) // n_files)
    for f in range(n_files):
        chunk = shuffled[f * per:(f + 1) * per]
        for _ in range(MALFORMED_PER_FILE):
            bad = json.dumps({"symbol": "S9999", "date": "2024-01-01", "open": "1"})
            chunk.insert(int(rng.integers(len(chunk) + 1)), bad[: len(bad) // 2])
            exp.malformed_lines += 1
        _write_jsonl(os.path.join(out_dir, f"quotes-{f:03d}.json"), chunk)
        exp.json_lines += len(chunk)
    exp.records_loaded = exp.clean_rows
    return exp


def make_stream_drops(
    out_dir: str,
    seed: int,
    n_symbols: int,
    n_drops: int,
    window: int = 3,
) -> Expected:
    """``n_drops`` daily drops, one file each; drop ``k`` re-sends days
    ``k-window+1 .. k`` of every listed symbol, extracted on day ``k``.

    Every copy of a (symbol, date) carries the same values, so the stream's
    first-arrival dedup and the batch pipeline's keep-last agree. Dirty rows
    are re-sent like clean ones and cleaned away each time.
    """
    rng = np.random.default_rng(seed)
    exp = Expected(symbols=n_symbols)
    # histories start between day 0 and a quarter of the way in
    universe = _universe(rng, n_symbols, n_drops - n_drops // 4, n_drops)
    os.makedirs(out_dir, exist_ok=True)
    seen_symbols = set()
    for _name, first, rows, kinds in universe:
        for row, kind in zip(rows, kinds):
            if kind:
                exp.dirty[kind] += 1
            else:
                exp.clean_rows += 1
                exp.close_cents_sum += round(float(row["close"]) * 100)
                seen_symbols.add(row["symbol"])
    for k in range(n_drops):
        stamp = (EXTRACTED + dt.timedelta(days=k)).isoformat()
        lines = []
        for _name, first, rows, kinds in universe:
            for day in range(max(k - window + 1, first), k + 1):
                i = day - first
                lines.append(json.dumps({**rows[i], "extracted_at": stamp,
                                         "data_source": "bench"}))
                if day < k:
                    exp.duplicates += 1
        _write_jsonl(os.path.join(out_dir, f"drop-{k:05d}.json"), lines)
        exp.json_lines += len(lines)
    exp.records_loaded = exp.clean_rows
    exp.unique_symbols = len(seen_symbols)
    return exp
