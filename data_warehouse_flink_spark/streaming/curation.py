"""Streaming corpus curation: the training-data pipeline as a continuous
job — documents arrive as a stream, pass the quality gate, are exactly
deduplicated against *all previously seen content* (stateful
dropDuplicates on the content hash), and land in a partitioned mart.

This is the streaming twin of `plans.llm_ops.corpus_curation`. Exact
dedup is a stateful dropDuplicates; near-dup ingest (``near_dedup_stream``)
keeps the admitted corpus's LSH band buckets in a partitioned parquet
state table — MinHash signatures are per-document, so only the *bucket
ledger* needs to be global, and that ledger is a foreachBatch
parquet state table, like the one behind
`streaming/mart.py::streaming_topn_foreachbatch`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_warehouse_flink_spark.streaming.jobs import (
    has_committed_data,
    run_foreach_batch,
)


def curate_stream(documents: DataFrame) -> DataFrame:
    """Quality gate (≥ 150 chars, en or zh) + first-seen exact dedup on a
    document stream.

    dropDuplicates on the content hash keeps state per distinct hash — at
    100 TB that state belongs in the RocksDB state store backend (a config
    choice, `spark.sql.streaming.stateStore.providerClass`; locally it's the
    default HDFS-backed store) and is the exact-dedup ledger. No
    watermark bound is applied to the dedup state on purpose: content
    dedup must be global, not time-scoped.
    """
    gated = documents.filter(
        (F.col("n_chars") >= 150) & F.col("lang").isin("en", "zh")
    )
    hashed = gated.withColumn("text_hash", F.md5(F.lower(F.col("text"))))
    return hashed.dropDuplicates(["text_hash"])


def near_dedup_stream(
    documents: DataFrame,
    state_path: str,
    out_path: str,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    gram_hash: str = "xxhash64",
) -> StreamingQuery:
    """Continuous near-dup ingest: first-seen docs are admitted, later
    near-dups are dropped — the streaming form of MinHash/LSH dedup.

    Architecture (a foreachBatch parquet state table):
    the *bucket ledger* — every (band, bucket) key of every admitted doc —
    lives in a parquet table partitioned by band. Each micro-batch:

    1. computes MinHash signatures and LSH band keys for ITS docs only
       (signatures are per-document — no corpus-global pass needed);
    2. drops docs sharing any (band, bucket) with the ledger (near-dup of
       an already-admitted doc; semi-join keyed on (band, bucket));
    3. within the batch, keeps only bucket-minimal docs: a doc is dropped
       if any of its buckets contains a smaller-doc_id batch doc. This is
       the keep-one-per-LSH-bucket contract — conservative on hash-chain
       collisions, deterministic (arrival order inside a micro-batch is
       undefined, so doc_id is the tie-break);
    4. appends the admitted docs' band keys to the ledger and the admitted
       doc ids to ``out_path``.

    Docs shorter than ``ngram`` tokens produce no shingles → no signature
    → no buckets; they are always admitted (nothing to collide on), same
    as the batch pipeline's `word_ngrams` guard.

    Scale: ledger rows = bands × admitted docs, partitioned by band; the
    per-batch joins key on (band, bucket) — collision-probability-sized
    buckets, never corpus-sized. State growth is admitted-docs-linear, the
    same asymptote as the exact-dedup hash ledger. At 100 TB the ledger is
    one more partitioned dataset; nothing pre-join reaches the driver.

    Returns the finished query (see `streaming.jobs.run_foreach_batch`).
    """
    from data_warehouse_flink_spark.functions.dedup import (
        incremental_dedup_batch,
    )

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch re-executes the micro-batch source per action; this
        # body still takes more than one (isEmpty + the kernel's internal
        # localCheckpoint of the batch/keys/admitted-ids, whose shingle/
        # signature lineage re-reads batch_df) — persist once.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            spark = batch_df.sparkSession
            ledger = (
                spark.read.parquet(state_path)
                if has_committed_data(spark, state_path)
                else None
            )
            # one shared admission kernel with the batch ingest step — the
            # sequential-batches == streaming-replay equivalence is by
            # construction, pinned in tests/test_round9_ops.py
            admitted, admitted_keys = incremental_dedup_batch(
                batch_df,
                ledger,
                ngram=ngram,
                num_hashes=num_hashes,
                bands=bands,
                gram_hash=gram_hash,
            )
            # No output checkpoints needed (r14): the kernel materializes
            # the admitted id set eagerly, so neither output's lineage
            # reads the ledger parquet anymore — appending to state_path
            # below cannot feed this batch's own keys back into a lazy
            # plan, and each write below materializes its (cheap,
            # checkpoint-rooted) plan exactly once. The former full-frame
            # checkpoints re-ran the admit join twice and materialized the
            # text payload this sink never writes.
            (
                admitted_keys.repartition("band")
                .write.mode("append")
                .partitionBy("band")
                .parquet(state_path)
            )
            admitted.select("doc_id").write.mode("append").parquet(out_path)
        finally:
            batch_df.unpersist()

    return run_foreach_batch(documents, per_batch, output_mode="append")
