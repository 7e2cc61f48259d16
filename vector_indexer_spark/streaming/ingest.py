"""Structured Streaming: incremental vector ingest into a built index.

The reference is batch-only (SURVEY §2.10 — no streaming operators
exist); this is the post-parity extension SURVEY §7 sketches: new
vectors stream in, are assigned to the *existing* trained centroids
(J1 against the frozen model — standard IVF incremental maintenance;
the index is rebuilt when drift warrants, exactly like the reference
would rebuild), and are appended to the shard-partitioned vector
table, where the next batch search picks them up.

Scale shape: ``foreachBatch`` + append write keeps every micro-batch a
normal partitioned-parquet append — no state store, no shuffle beyond
the shard repartition; watermarking is unnecessary because assignment
is stateless given the frozen centroid matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from vector_indexer_spark.operators.index_build import (
    IvfIndex,
    attach_shards,
    write_sharded,
)
from vector_indexer_spark.operators.kmeans import assign_clusters


def assign_and_shard(batch_df: DataFrame, index: IvfIndex) -> DataFrame:
    """Assign a (micro-)batch of vector records to the index's frozen
    centroids and attach shard ids (the per-batch body of the stream)."""
    assigned = assign_clusters(
        batch_df,
        index.centroids,
        vec_col=index.vec_col,
        out_col="cluster_id",
        seed=index.seed,
    )
    return attach_shards(assigned, index)


def start_vector_ingest(
    index: IvfIndex,
    stream_df: DataFrame,
    checkpoint_dir: str,
    *,
    trigger_available_now: bool = False,
):
    """Start the incremental-ingest stream.

    ``stream_df`` is a streaming DataFrame of vector records
    (id, external_id, values, ts). Returns the StreamingQuery.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_sharded(
            assign_and_shard(batch_df, index), index.vectors_path, "append"
        )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
