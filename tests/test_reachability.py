"""Every top-level package def must be reachable from an entry point.

A by-name reachability pass over the package's top-level functions and
classes, with ``ast`` only (no Spark).  The roots are the code that
runs outside ``tests/``: ``__spark_entry__.py``, ``bench.py``,
``perfbench/``, ``tools/``, ``scripts/`` and the package's own
module-level statements.  Two kinds of module-level statement are not
roots: ``__all__`` lists (they name every public def, so counting them
would hide the test-only ones) and imports (they only bind a name; the
code that uses the name is what makes a def live).  A def is reachable
when a root, or the body of a reachable def, names it as a variable or
an attribute.  Matching is by name, so a name clash can only hide a
test-only def; it never flags a live one (lookups by string aside).

``TEST_ONLY`` lists the defs that only ``tests/`` reach today.  It may
only shrink: a new test-only def fails here, and so does a listed def
that was deleted or gained a caller, so the list stays exact.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "financial_data_ingestion_pipeline_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("perfbench", "tools", "scripts")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)

TEST_ONLY = frozenset(
    {
        # the dedup key index and its probes
        "functions/dedup.py::_dedup_against_keysets",
        "functions/dedup.py::build_dedup_index",
        "functions/dedup.py::dedup_incremental",
        "functions/dedup.py::dedup_incremental_indexed",
        # snapshot tables and their callers
        "operators/warehouse.py::ConcurrentCommitError",
        "operators/warehouse.py::_load_manifest",
        "operators/warehouse.py::_manifest_path",
        "operators/warehouse.py::_write_manifest",
        "operators/warehouse.py::list_snapshots",
        "operators/warehouse.py::read_snapshot",
        "operators/warehouse.py::snapshot_commit",
        "operators/warehouse.py::vacuum_snapshots",
        "plans/corpus_pipeline.py::_span_contamination_probe_and_cut",
        "plans/corpus_pipeline.py::run_incremental_ingest",
        "streaming/ohlc_stream.py::run_ohlc_stream_once",
        "streaming/ohlc_stream.py::write_snapshot_stream",
        # alternative warehouse layouts and sinks
        "operators/warehouse.py::jdbc_append",
        "operators/warehouse.py::write_bucketed_warehouse",
        "operators/warehouse.py::zorder_write",
        # sources
        "sources/fixtures.py::load_fixture_tables",
        "sources/ingest.py::read_zipped_tick_csvs",
        "sources/jsonl.py::read_zipped_jsonl",
        "sources/jsonl.py::write_jsonl",
        "sources/tickgen.py::TickGenDataSource",
        "sources/tickgen.py::TickGenReader",
        "sources/tickgen.py::TickGenStreamReader",
        "sources/tickgen.py::_SymbolPartition",
        "sources/tickgen.py::_tick",
        # single helpers
        "functions/multimodal.py::set_image_decoder",
        "functions/similarity.py::lsh_candidate_pairs",
        "functions/sketches.py::countmin_sketch",
    }
)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_all(st: ast.stmt) -> bool:
    return isinstance(st, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in st.targets
    )


def _scan() -> tuple[set[str], set[str]]:
    """(every top-level package def, the reachable ones), as
    ``module/path.py::name`` keys."""
    defs: dict[str, tuple[str, set[str]]] = {}
    seen: set[str] = set()
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        for st in ast.parse(p.read_text()).body:
            if isinstance(st, _DEFS):
                defs[f"{rel}::{st.name}"] = (st.name, _names(st))
            elif not isinstance(st, _IMPORTS) and not _is_all(st):
                seen |= _names(st)
    roots = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        roots += sorted((REPO / d).rglob("*.py"))
    for p in roots:
        seen |= _names(ast.parse(p.read_text()))

    live: set[str] = set()
    frontier = seen
    while True:
        new = {k for k, (name, _) in defs.items() if name in frontier} - live
        if not new:
            return set(defs), live
        live |= new
        frontier = set().union(*(defs[k][1] for k in new))


def test_every_package_def_is_reachable_or_listed():
    defs, live = _scan()
    unlisted = sorted(defs - live - TEST_ONLY)
    assert not unlisted, f"reachable only from tests (or nowhere): {unlisted}"
    gone = sorted(TEST_ONLY - defs)
    assert not gone, f"listed as test-only but no longer defined: {gone}"
    now_live = sorted(TEST_ONLY & live)
    assert not now_live, f"listed as test-only but now reachable: {now_live}"
