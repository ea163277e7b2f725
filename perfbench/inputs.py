"""Everything a run reads, made from the seed: tick drops for the DAG,
the parquet backlog for the stream, and the contract fixture tables for
the query mix (``tools/gen_sf.py`` at sf0.1 row counts)."""

from __future__ import annotations

import contextlib
import io
import os
import sys
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from . import tickdrop

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@dataclass
class Inputs:
    days: list            # tickdrop.Day, one per DAG run
    drop_dirs: list[str]  # one folder per day: the zip and the bhavcopy
    bhavcopies: list[str]
    backlog_dir: str
    sf_dir: str


def write_fixtures(out_dir: str, seed: int, heaps_docs: bool, repo_root: str) -> None:
    """The contract tables at sf0.1 row counts.  ``gen_sf`` copies the
    fixed region/nation dimensions from a source directory; they are
    written here first: the fixed 5 regions and 25 nations of sf0.1."""
    dims = os.path.join(out_dir, "_dims")
    os.makedirs(dims, exist_ok=True)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(dims, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(dims, "nation.parquet"))
    tools = os.path.join(repo_root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import gen_sf

    gen_sf.SRC = dims
    argv = ["gen_sf", out_dir, "--scale", "1", "--seed", str(seed)]
    if heaps_docs:
        argv.append("--heaps")
    saved, sys.argv = sys.argv, argv
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_sf.main()
    finally:
        sys.argv = saved


def make_inputs(
    root: str,
    seed: int,
    spec: tickdrop.DaySpec,
    n_days: int,
    stream_days: int,
    files_per_day: int,
    heaps_docs: bool,
    repo_root: str,
) -> Inputs:
    days = [tickdrop.make_day(seed, i, spec) for i in range(n_days)]
    drop_dirs, bhavs = [], []
    for day in days:
        d = os.path.join(root, "drops", day.folder)
        tickdrop.write_zip_drop(day, d)
        bhavs.append(tickdrop.write_bhavcopy(day, d))
        drop_dirs.append(d)
    backlog = os.path.join(root, "backlog")
    tickdrop.write_parquet_backlog(days[:stream_days], backlog, files_per_day)
    sf_dir = os.path.join(root, "sf")
    write_fixtures(sf_dir, seed, heaps_docs, repo_root)
    return Inputs(days, drop_dirs, bhavs, backlog, sf_dir)
