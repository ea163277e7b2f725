"""Streaming maintenance of the materialized PQ vector index.

Embedding drops arrive as a stream; each micro-batch is PQ-encoded
with the FROZEN coarse quantizer + codebooks (so cell boundaries and
codewords never move — the invariant that makes incremental vector
indexing sound) and lands in the index as its own
``batch_id=N/cell=C`` partition tree.

Idempotence: a replayed batch dynamic-overwrites ONLY its own
``batch_id`` partition, so at-least-once delivery never duplicates
index rows — duplicates would be poison for top-k (two copies of a
real neighbor can evict a distinct one from the pool).  Queries
(:func:`similarity.pq_index_topk`) are unchanged: ``cell`` remains a
partition column one level down, so probe pruning still skips
unprobed cells inside every batch directory, and the extra
``batch_id`` column is ignored by the ADC kernel.

This is the 100 TB ingestion shape for a vector store on plain
parquet: encode-on-arrival (Arrow-batched, no driver involvement),
append-only partitions.  Compacting the small files that many batches
leave is an offline concern the package does not implement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from financial_data_ingestion_pipeline_spark.functions.vectorized import (
    pq_encode_local,
)
from financial_data_ingestion_pipeline_spark.streaming.sink import (
    start_batch_sink,
)


def maintain_pq_index(
    embedding_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Encode each micro-batch with the frozen quantizer/codebooks and
    land it in the PQ index under an idempotent batch partition."""
    if centroids is None:
        from financial_data_ingestion_pipeline_spark.functions.ivf_pretrained import (
            CENTROIDS,
        )

        centroids = CENTROIDS
    if codebooks is None:
        from financial_data_ingestion_pipeline_spark.functions.pq_pretrained import (
            CODEBOOKS,
        )

        codebooks = CODEBOOKS
    encode = pq_encode_local(
        [list(map(float, c)) for c in centroids], codebooks, id_col, vec_col
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (
            batch.select(id_col, vec_col)
            .mapInPandas(encode, "vec_id long, cell int, code long")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .repartition("cell")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell")
            .parquet(out_path)
        )

    return start_batch_sink(embedding_stream, write_batch, checkpoint)
