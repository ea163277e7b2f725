"""Seeded NSE-style tick drops for the benchmark.

One trading day is a universe of symbols, a tick count per symbol and
the ticks themselves.  The same ``(seed, spec)`` always gives the same
ticks, and the writers below give byte-identical files for them (zip
members carry a fixed timestamp, parquet files carry no creation
stamp that changes between runs).

Stated input properties (see ``DaySpec``):

- ``n_symbols`` traded symbols per day, ``ticks_per_day`` ticks in
  total, spread over symbols by Zipf weights ``1/rank**skew``: with
  ``skew > 0`` a few liquid names carry most ticks, ``skew = 0`` is
  even.  A symbol never has two ticks in the same second, so the
  open/close of every bucket is unambiguous.
- ``bad_share`` of the ticks carry one unparseable measure and the
  same share carry one negative measure (never on LTP, so OHLC is
  defined for every tick).
- ``n_untraded`` bhavcopy symbols have no ticks at all.
- the bhavcopy CLOSE of exactly one traded symbol is off by 1.00.

The program under test only ever sees the files written here.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import zipfile
from dataclasses import dataclass

import numpy as np

HEADER = [
    "Ticker", "Date", "Time", "LTP", "BuyPrice", "BuyQty",
    "SellPrice", "SellQty", "LTQ", "OpenInterest",
]
BHAV_HEADER = [
    "SYMBOL", "SERIES", "OPEN", "HIGH", "LOW", "CLOSE", "LAST",
    "PREVCLOSE", "TOTTRDQTY", "TOTTRDVAL", "TIMESTAMP", "TOTALTRADES", "ISIN",
]
SESSION_OPEN = dt.time(9, 15)
SESSION_SECONDS = 6 * 3600 + 15 * 60  # 09:15:00 .. 15:29:59
FIRST_DAY = dt.date(2022, 4, 4)
_ZIP_STAMP = (2022, 1, 1, 0, 0, 0)
_GARBAGE_COLS = (5, 6)      # BuyQty, SellPrice
_NEGATIVE_COLS = (8, 9)     # LTQ, OpenInterest


@dataclass(frozen=True)
class DaySpec:
    n_symbols: int = 200
    ticks_per_day: int = 100_000
    skew: float = 1.1
    bad_share: float = 0.004
    n_untraded: int = 5


@dataclass
class Day:
    """One generated trading day: ticks as column arrays, all measures as
    the strings written to the CSVs, plus the bhavcopy rows."""

    date: dt.date
    symbol: np.ndarray      # str, per tick
    second: np.ndarray      # int, seconds after the 09:15 open
    cols: dict[str, list[str]]
    bhavcopy: list[list]
    mismatched_symbol: str

    @property
    def folder(self) -> str:
        return f"STOCK_TICK_{self.date:%d%m%Y}"

    def timestamps(self) -> np.ndarray:
        base = np.datetime64(dt.datetime.combine(self.date, SESSION_OPEN), "s")
        return base + self.second.astype("timedelta64[s]")


def trading_days(n: int) -> list[dt.date]:
    """The first ``n`` weekdays from ``FIRST_DAY``."""
    days, d = [], FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def ticks_per_symbol(spec: DaySpec) -> np.ndarray:
    """Zipf-weighted split of ``ticks_per_day`` over the symbols, each at
    least 1 and at most one tick per session second."""
    w = 1.0 / np.arange(1, spec.n_symbols + 1) ** spec.skew
    n = np.maximum(1, np.floor(spec.ticks_per_day * w / w.sum())).astype(int)
    return np.minimum(n, SESSION_SECONDS)


def make_day(seed: int, day_index: int, spec: DaySpec) -> Day:
    date = trading_days(day_index + 1)[day_index]
    rng = np.random.default_rng([seed, day_index])
    symbols = [f"SYM{i:04d}" for i in range(spec.n_symbols + spec.n_untraded)]
    traded = symbols[: spec.n_symbols]
    counts = ticks_per_symbol(spec)
    # which symbol is liquid changes with the seed, not with the rank
    liquid_order = rng.permutation(spec.n_symbols)
    sym_parts, sec_parts, price_parts = [], [], []
    for rank, idx in enumerate(liquid_order):
        n = int(counts[rank])
        secs = np.sort(rng.choice(SESSION_SECONDS, size=n, replace=False))
        base = 50.0 + rng.integers(0, 5000) / 2.0
        walk = np.cumsum(rng.integers(-20, 21, size=n)) * 0.05
        sym_parts.append(np.full(n, traded[idx]))
        sec_parts.append(secs)
        price_parts.append(np.maximum(1.0, base + walk))
    symbol = np.concatenate(sym_parts)
    second = np.concatenate(sec_parts)
    ltp = np.round(np.concatenate(price_parts), 2)
    total = len(symbol)
    bid = np.round(ltp - 0.05, 2)
    ask = np.round(ltp + 0.05, 2)
    cols = {
        "LTP": [f"{v:.2f}" for v in ltp],
        "BuyPrice": [f"{v:.2f}" for v in bid],
        "BuyQty": [str(v) for v in rng.integers(1, 5000, total)],
        "SellPrice": [f"{v:.2f}" for v in ask],
        "SellQty": [str(v) for v in rng.integers(1, 5000, total)],
        "LTQ": [str(v) for v in rng.integers(1, 500, total)],
        "OpenInterest": [str(v) for v in rng.integers(0, 100_000, total)],
    }
    n_bad = max(1, int(round(total * spec.bad_share)))
    bad = rng.choice(total, size=2 * n_bad, replace=False)
    for j, row in enumerate(bad[:n_bad]):
        cols[HEADER[_GARBAGE_COLS[j % 2]]][row] = "garbage"
    for j, row in enumerate(bad[n_bad:]):
        col = HEADER[_NEGATIVE_COLS[j % 2]]
        cols[col][row] = "-" + cols[col][row].lstrip("-")
    # bhavcopy: golden daily OHLC, exact for every traded symbol but one
    bhav = []
    mismatched = traded[int(rng.integers(0, spec.n_symbols))]
    start = 0
    for rank, idx in enumerate(liquid_order):
        n = int(counts[rank])
        p = ltp[start:start + n]
        start += n
        close = float(p[-1]) + (1.0 if traded[idx] == mismatched else 0.0)
        bhav.append([traded[idx], "EQ", float(p[0]), float(p.max()),
                     float(p.min()), round(close, 2), float(p[-1]), float(p[0]),
                     n, 0.0, f"{date:%d-%b-%Y}".upper(), n, "INE000000000"])
    for s in symbols[spec.n_symbols:]:
        bhav.append([s, "EQ", 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 0, 0.0,
                     f"{date:%d-%b-%Y}".upper(), 0, "INE000000000"])
    bhav.sort(key=lambda r: r[0])
    return Day(date, symbol, second, cols, bhav, mismatched)


def _csv_bytes(rows) -> bytes:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerows(rows)
    return buf.getvalue().encode()


def write_zip_drop(day: Day, zip_dir: str) -> str:
    """``<zip_dir>/<folder>.zip`` holding ``<folder>/<SYMBOL>.csv`` per
    traded symbol (reference tick-drop layout); returns the zip path."""
    os.makedirs(zip_dir, exist_ok=True)
    path = os.path.join(zip_dir, f"{day.folder}.zip")
    date_s = day.date.isoformat()
    open_s = SESSION_OPEN.hour * 3600 + SESSION_OPEN.minute * 60
    lines = [
        f"{sym}.NSE,{date_s},{(open_s + s) // 3600:02d}:{(open_s + s) // 60 % 60:02d}:"
        f"{s % 60:02d},{','.join(vals)}\n"
        for sym, s, *vals in zip(day.symbol.tolist(), day.second.tolist(),
                                 *(day.cols[c] for c in HEADER[3:]))
    ]
    order = np.argsort(day.symbol, kind="stable")
    sym_sorted = day.symbol[order]
    bounds = np.flatnonzero(np.r_[True, sym_sorted[1:] != sym_sorted[:-1], True])
    header = ",".join(HEADER) + "\n"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for a, b in zip(bounds[:-1], bounds[1:]):
            info = zipfile.ZipInfo(f"{day.folder}/{sym_sorted[a]}.csv", _ZIP_STAMP)
            info.compress_type = zipfile.ZIP_DEFLATED
            body = header + "".join(lines[i] for i in order[a:b])
            zf.writestr(info, body.encode())
    return path


def write_bhavcopy(day: Day, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    month = day.date.strftime("%b").upper()
    path = os.path.join(out_dir, f"cm{day.date:%d}{month}{day.date:%Y}bhav.csv")
    with open(path, "wb") as fh:
        fh.write(_csv_bytes([BHAV_HEADER, *day.bhavcopy]))
    return path


def write_parquet_backlog(days: list[Day], out_dir: str, files_per_day: int) -> None:
    """Land the ticks as warehouse-schema parquet files, ``files_per_day``
    consecutive time slices per day, named in event-time order so a file
    stream with ``maxFilesPerTrigger`` sees time move forward.  Unparseable
    measures become nulls, as the ingest path would make them."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for d, day in enumerate(days):
        ts = day.timestamps()
        cut = np.linspace(0, SESSION_SECONDS, files_per_day + 1).astype(int)

        parsed = {
            c: pd.to_numeric(pd.Series(day.cols[c]), errors="coerce").to_numpy()
            for c in HEADER[3:]
        }

        def num(name, rows):
            return pa.array(parsed[name][rows], pa.float64(), from_pandas=True)

        for k in range(files_per_day):
            rows = np.flatnonzero((day.second >= cut[k]) & (day.second < cut[k + 1]))
            rows = rows[np.lexsort((day.second[rows], day.symbol[rows]))]
            table = pa.table({
                "source_symbol": pa.array(day.symbol[rows].tolist(), pa.string()),
                "timestamp": pa.array(ts[rows].astype("datetime64[us]"), pa.timestamp("us")),
                "ltp": num("LTP", rows),
                "ltq": num("LTQ", rows),
                "oi": num("OpenInterest", rows),
                "bid": num("BuyPrice", rows),
                "bid_qty": num("BuyQty", rows),
                "ask": num("SellPrice", rows),
                "ask_qty": num("SellQty", rows),
            })
            pq.write_table(
                table, os.path.join(out_dir, f"ticks-{d:03d}-{k:03d}.parquet"),
                compression="snappy", store_schema=False,
            )
