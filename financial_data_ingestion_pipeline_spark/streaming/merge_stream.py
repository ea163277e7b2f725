"""Streaming MERGE INTO a snapshot table: each micro-batch upserts by
key via ``operators.warehouse.snapshot_merge``.

This is the streaming complement of the batch copy-on-write MERGE —
a CDC/update stream lands in the same manifest-committed table that
batch jobs read, with the same pruning economics: a micro-batch whose
keys touch one directory rewrites one directory, and every commit is
atomic (a crashed batch leaves an orphan data dir and no manifest, so
the next retry starts from the previous consistent version).

Delivery semantics: ``foreachBatch`` may re-run a batch after a
failure; an upsert of identical (key, value) rows is idempotent at
the TABLE level — the replay rewrites the same directories to the
same logical contents under a new version — so downstream readers of
"latest" never observe duplicates or partial batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import warehouse
from .sink import start_batch_sink


def upsert_stream(
    updates: DataFrame,
    table_dir: str,
    key_cols: list[str],
    checkpoint_dir: str,
    *,
    seq_col: str = "ts",
    stats_col: str | None = None,
):
    """Start a streaming query that MERGEs each micro-batch into the
    snapshot table at ``table_dir`` (insert-or-replace by
    ``key_cols``).  Returns the started ``StreamingQuery``.

    A batch may contain several rows per key (e.g. multiple updates in
    one trigger window): rows are reduced to the latest per key by max
    struct ordering with ``seq_col`` (the CDC sequence/event-time
    column) LEADING the struct — the winner is decided by sequence,
    never by whichever value column happens to come first in the
    frame — the same convention as the SCD current-state stream.
    """
    from pyspark.sql import functions as F

    if seq_col not in updates.columns:
        raise ValueError(
            f"seq_col {seq_col!r} not in stream columns {updates.columns}"
        )
    # seq_col inside key_cols means each key is already sequence-unique:
    # reduce to plain per-key dedup instead of emitting the column twice
    seq_in_keys = seq_col in key_cols
    value_cols = ([] if seq_in_keys else [seq_col]) + [
        c for c in updates.columns if c not in key_cols and c != seq_col
    ]

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if value_cols:
            latest = (
                batch_df.groupBy(*key_cols)
                .agg(F.max(F.struct(*value_cols)).alias("__v"))
                .select(*key_cols, "__v.*")
            )
        else:
            latest = batch_df.dropDuplicates(key_cols)
        try:
            warehouse.snapshot_merge(
                spark, table_dir, latest, key_cols, stats_col=stats_col
            )
        except FileNotFoundError:
            warehouse.snapshot_commit(
                latest, table_dir, stats_col=stats_col or key_cols[0]
            )

    return start_batch_sink(updates, _merge, checkpoint_dir)
