"""Streaming similarity search: query vectors arrive as a stream and are
ranked against a fixed corpus index — the retrieval shape of an online
curation / RAG-style pipeline (batch twin: `functions/similarity.py`).

Per-query results are independent, so the streamed union is exactly the
batch output regardless of micro-batch boundaries — which makes this the
rare streaming operator with a value-exact SQL oracle (the batch kNN
oracle verbatim, gate `streaming_knn`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from data_warehouse_flink_spark.functions.similarity import knn_bruteforce
from data_warehouse_flink_spark.streaming.jobs import run_foreach_batch


def knn_stream(
    corpus: DataFrame,
    query_stream: DataFrame,
    out_path: str,
    k: int = 5,
) -> StreamingQuery:
    """Exact cosine top-k for each streamed query vector.

    The corpus is a *batch* DataFrame captured by the foreachBatch closure
    — materialize it (localCheckpoint / a parquet mart) before passing it
    in so each micro-batch joins the same snapshot without re-deriving the
    lineage. Each batch broadcasts its (small) query set against the
    corpus, exactly like the batch operator; results append to
    ``out_path``. Scale: corpus streams partition-local per batch, state
    is zero (retrieval is stateless), and the only shuffle is the
    per-query rank — batch-size-bounded, never corpus-bounded. Returns the
    finished query (see `streaming.jobs.run_foreach_batch`).
    """

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ranked = knn_bruteforce(corpus, batch_df, k=k)
        ranked.write.mode("append").parquet(out_path)

    return run_foreach_batch(query_stream, per_batch, output_mode="append")
