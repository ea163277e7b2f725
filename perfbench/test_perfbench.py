"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import hashlib
import io
import os
import zipfile

import numpy as np
import pytest

from perfbench import stats, tickdrop

SPEC = tickdrop.DaySpec(n_symbols=30, ticks_per_day=3_000, skew=1.1, n_untraded=3)


def _digests(root: str) -> dict[str, str]:
    out = {}
    for base, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(root: str, seed: int) -> None:
    days = [tickdrop.make_day(seed, i, SPEC) for i in range(2)]
    for day in days:
        tickdrop.write_zip_drop(day, os.path.join(root, "zips"))
        tickdrop.write_bhavcopy(day, os.path.join(root, "bhav"))
    tickdrop.write_parquet_backlog(days, os.path.join(root, "backlog"), 2)


def test_same_seed_gives_byte_identical_files(tmp_path):
    _write_all(str(tmp_path / "a"), seed=7)
    _write_all(str(tmp_path / "b"), seed=7)
    _write_all(str(tmp_path / "c"), seed=8)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert len(a) == 2 + 2 + 4
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_stated_input_properties():
    day = tickdrop.make_day(3, 0, SPEC)
    counts = tickdrop.ticks_per_symbol(SPEC)
    # skew: the top tenth of symbols carries more than a third of the ticks
    assert counts[: SPEC.n_symbols // 10].sum() > counts.sum() / 3
    assert len(day.symbol) == counts.sum()
    # no symbol trades twice in the same second
    keys = set(zip(day.symbol.tolist(), day.second.tolist()))
    assert len(keys) == len(day.symbol)
    n_bad = round(len(day.symbol) * SPEC.bad_share)
    garbage = sum(v == "garbage" for col in day.cols.values() for v in col)
    negative = sum(v.startswith("-") for col in day.cols.values() for v in col)
    assert garbage == n_bad and negative == n_bad
    assert not any(v == "garbage" or v.startswith("-") for v in day.cols["LTP"])
    bhav_syms = {r[0] for r in day.bhavcopy}
    assert len(bhav_syms - set(day.symbol.tolist())) == SPEC.n_untraded


def test_benchmark_skew_is_the_most_liquid_that_fits_the_session():
    # the skewed workload's exponent is the largest in tenths whose most
    # liquid symbol still ticks at most once per session second
    from perfbench import run

    def top(skew):
        spec = tickdrop.DaySpec(n_symbols=run.N_SYMBOLS, ticks_per_day=run.TICKS_PER_DAY,
                                skew=skew)
        w = 1.0 / np.arange(1, spec.n_symbols + 1) ** spec.skew
        return spec.ticks_per_day * w[0] / w.sum()

    skew = run.WORKLOADS["skewed"].tick_skew
    assert top(skew) <= tickdrop.SESSION_SECONDS < top(round(skew + 0.1, 1))


def test_even_spec_spreads_ticks():
    counts = tickdrop.ticks_per_symbol(tickdrop.DaySpec(n_symbols=10, ticks_per_day=1000, skew=0.0))
    assert counts.tolist() == [100] * 10


def test_bhavcopy_matches_ticks_except_one_close(tmp_path):
    day = tickdrop.make_day(5, 1, SPEC)
    path = tickdrop.write_zip_drop(day, str(tmp_path))
    closes = {}
    with zipfile.ZipFile(path) as zf:
        for name in zf.namelist():
            assert name.startswith(day.folder + "/")
            rows = list(csv.DictReader(io.StringIO(zf.read(name).decode())))
            rows.sort(key=lambda r: r["Time"])
            closes[rows[0]["Ticker"].removesuffix(".NSE")] = float(rows[-1]["LTP"])
    off = [r[0] for r in day.bhavcopy if r[0] in closes and r[5] != closes[r[0]]]
    assert off == [day.mismatched_symbol]


@pytest.mark.parametrize(
    "n, expected",
    [(9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_percentile_leaves_ten_samples_beyond(n, expected):
    p = stats.supported_percentile(n)
    assert p == expected
    if p is not None:
        values = list(range(n))
        assert sum(v > stats.percentile(values, p) for v in values) >= 10
        higher = [q for q in stats.PERCENTILE_LADDER if q > p]
        assert all(stats.beyond(n, q) < 10 for q in higher)


def test_percentile_and_median():
    assert stats.percentile(list(range(1, 101)), 90) == 90
    assert stats.percentile([5.0], 50) == 5.0
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_self_time_counts_overlapping_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        # children overlap each other on [3, 4] and one runs past the parent
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(2.0)
    assert own[4] == pytest.approx(0.5)


def test_covered_handles_nesting_and_gaps():
    assert stats.covered([(0, 2), (1, 3), (5, 6), (5.5, 5.7)], 0, 10) == pytest.approx(4.0)
    assert stats.covered([], 0, 1) == 0.0
    assert stats.covered([(2, 1)], 0, 3) == 0.0
