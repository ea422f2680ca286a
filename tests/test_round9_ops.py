"""Round-9 operator pins: ledger-maintaining incremental dedup
(VERDICT r8 #5), sampled-fit quantizer training (VERDICT r8 #4), and
batched BPE training (VERDICT r8 #3)."""

from __future__ import annotations

import os

import conftest  # noqa: F401  (sys.path setup)
import pytest
from pyspark.sql import functions as F

SF = conftest.SF_SMOKE


def test_incremental_dedup_batch_equals_streaming_twin(spark, tmp_path):
    """Two consecutive batches through incremental_dedup_batch with the
    ledger sequentially updated between them admit EXACTLY the docs the
    streaming twin admits replaying the same two micro-batches — the
    VERDICT r8 #5 pin. Both paths run lsh_admit_batch, so this guards the
    shared-kernel refactor staying shared."""
    from data_warehouse_flink_spark.functions.dedup import (
        incremental_dedup_batch,
    )
    from data_warehouse_flink_spark.streaming.curation import (
        near_dedup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river"
    docs = [
        # cross-batch dup: 2 (batch 0) admitted, 11 (batch 1) dropped
        (2, base),
        (11, base),
        # in-batch dup pair (both batch 1): min id wins
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (7, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # uniques, one per batch
        (4, "completely different text about spark structured streaming"),
        (5, "another unrelated document mentioning parquet ledgers bands"),
        # keyless (shorter than the 3-gram shingle), one per batch
        (6, "tiny doc"),
        (9, "ab"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    b0 = df.filter(F.col("doc_id") % 2 == 0)
    b1 = df.filter(F.col("doc_id") % 2 == 1)

    # --- batch path: sequential ledger maintenance ---
    state = str(tmp_path / "batch_ledger")
    admitted0, keys0 = incremental_dedup_batch(b0, None)
    keys0.write.mode("append").partitionBy("band").parquet(state)
    admitted1, keys1 = incremental_dedup_batch(
        b1, spark.read.parquet(state)
    )
    admitted1 = admitted1.localCheckpoint(eager=True)
    keys1.localCheckpoint(eager=True).write.mode("append").partitionBy(
        "band"
    ).parquet(state)
    batch_admitted = {
        r.doc_id
        for r in admitted0.unionByName(admitted1)
        .select("doc_id")
        .collect()
    }

    # --- streaming path: same two batches as file micro-batches ---
    replay = str(tmp_path / "replay")
    for i, b in enumerate((b0, b1)):
        b.coalesce(1).write.mode("append").parquet(replay)
        for name in os.listdir(replay):
            p = os.path.join(replay, name)
            if name.endswith(".parquet") and os.path.getmtime(p) > 1e9 + 5:
                os.utime(p, (1_000_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(replay)
    )
    q = near_dedup_stream(
        stream,
        state_path=str(tmp_path / "stream_ledger"),
        out_path=str(tmp_path / "admitted"),
    )
    q.awaitTermination()
    stream_admitted = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }

    assert batch_admitted == stream_admitted
    # the intended semantics actually exercised (guards a vacuous pass)
    assert 2 in batch_admitted and 11 not in batch_admitted  # cross-batch
    assert 3 in batch_admitted and 7 not in batch_admitted  # in-batch
    assert {4, 5, 6, 9} <= batch_admitted  # uniques + keyless
    # ledgers converge too: same (band, bucket) multiset
    bl = spark.read.parquet(state).groupBy("band", "bucket").count()
    sl = (
        spark.read.parquet(str(tmp_path / "stream_ledger"))
        .groupBy("band", "bucket")
        .count()
    )
    assert bl.exceptAll(sl).isEmpty() and sl.exceptAll(bl).isEmpty()


def test_sampled_kmeans_fit_is_a_real_sample(spark):
    """The sampled-fit quantizer pins (VERDICT r8 #4): the md5 hash-sample
    is non-vacuous (strictly between 0 and all rows), the sampled model is
    deterministic across invocations, and the recall report carries the
    ivf_trained_sampled row alongside the full-fit tier."""
    from data_warehouse_flink_spark.plans.llm_ops import (
        _KMEANS_SAMPLE_SQL,
        _kmeans_model,
        _kmeans_qdf,
    )

    qdf = _kmeans_qdf(spark, SF)
    n_all = qdf.count()
    n_sample = qdf.filter(F.expr(_KMEANS_SAMPLE_SQL)).count()
    assert 0 < n_sample < n_all

    m1 = _kmeans_model(spark, SF, sampled=True)
    # bypass the session cache for the determinism re-run
    from data_warehouse_flink_spark.functions.clustering import (
        kmeans_quantized_train,
    )

    m2 = kmeans_quantized_train(
        qdf.filter(F.expr(_KMEANS_SAMPLE_SQL)), k=8, iters=3
    )
    assert m1 == m2
    # trained on different data than the full fit: models must differ
    # (equality would mean the sample filter silently no-opped)
    assert m1 != _kmeans_model(spark, SF)

    # same non-vacuity for the PQ family's sampled codebooks
    from data_warehouse_flink_spark.plans.llm_ops import _pq_train_model

    assert _pq_train_model(spark, SF, sampled=True) != _pq_train_model(spark, SF)


def test_bpe_batched_m1_equals_sequential(spark):
    """bpe_train_merges is the batch_size=1 path of the batched trainer;
    this pins that the two PUBLIC entry points stay byte-equal on the
    real corpus (the frozen-MERGES pin in test_round8_ops already grades
    the sequential path against the offline table)."""
    from data_warehouse_flink_spark.functions.text import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )
    from data_warehouse_flink_spark.plans.llm_ops import _docs

    docs = _docs(spark, SF).select("text").localCheckpoint(eager=True)
    seq = bpe_train_merges(docs, 6)
    m1 = bpe_train_merges_batched(docs, 6, batch_size=1)
    assert seq == m1 and len(seq) == 6


def test_bpe_batched_conflict_and_disjoint_semantics(spark):
    """Designed corpora for the epoch-greedy rules: disjoint top pairs
    merge in one epoch with exact counts; a shared-symbol runner-up is
    deferred to the recount, reproducing the sequential result."""
    from data_warehouse_flink_spark.functions.text import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    # disjoint top pairs — one epoch takes all three, pre-epoch counts
    # are exact post-merge counts
    docs = spark.createDataFrame(
        [("ax by",), ("ax by",), ("ax cz",)], "text string"
    )
    # char-spaced: 'a x' appears 3×, 'b y' 2×, 'c z' 1× — all disjoint
    got = bpe_train_merges_batched(docs, 3, batch_size=3)
    seq = bpe_train_merges(docs, 3)
    assert got == seq
    assert got[0][1:3] == ("a", "x") and got[0][3] == 3
    assert got[1][1:3] == ("b", "y") and got[1][3] == 2

    # conflict: 'a b' 3×, 'b c' 2× share b — batched must defer (b,c),
    # and after merging (a,b) the 'b c' adjacency is GONE in 'a b c'
    # docs, so both trainers converge to the same next merge
    conflict = spark.createDataFrame(
        [("ab abc",), ("ab abc",), ("abc x",)], "text string"
    )
    got_c = bpe_train_merges_batched(conflict, 2, batch_size=2)
    seq_c = bpe_train_merges(conflict, 2)
    assert got_c == seq_c
    assert got_c[0][1:3] == ("a", "b")
    assert got_c[0][3] >= got_c[1][3]


def test_bpe_batched_deterministic(spark):
    from data_warehouse_flink_spark.functions.text import (
        bpe_train_merges_batched,
    )
    from data_warehouse_flink_spark.plans.llm_ops import _docs

    docs = _docs(spark, SF).select("text").localCheckpoint(eager=True)
    r1 = bpe_train_merges_batched(docs, 8, batch_size=4)
    r2 = bpe_train_merges_batched(docs, 8, batch_size=4)
    assert r1 == r2 and len(r1) == 8
    assert [r[0] for r in r1] == list(range(8))
    assert all(r[3] > 0 for r in r1)


def test_pq_fused_train_equals_sequential(spark):
    """The fused one-scan-per-iteration PQ trainer is bit-identical to
    the sequential per-subspace path on both the full corpus and the
    hash-sample — the equivalence that lets `_pq_train_model` run the
    fused plan while the oracle stays the unrolled per-subspace CTEs."""
    from data_warehouse_flink_spark.functions.clustering import (
        kmeans_quantized_train,
        pq_kmeans_fused_train,
    )
    from data_warehouse_flink_spark.plans.llm_ops import (
        _KMEANS_SAMPLE_SQL,
        _kmeans_qdf,
        _pq_sub_qdf,
    )

    qdf = _kmeans_qdf(spark, SF)
    for pred in (None, _KMEANS_SAMPLE_SQL):
        base = qdf.filter(F.expr(pred)) if pred else qdf
        fused = pq_kmeans_fused_train(
            base, m_subspaces=8, sub_dim=8, k=16, iters=2
        )
        seq = [
            kmeans_quantized_train(
                (
                    _pq_sub_qdf(spark, SF, m).filter(F.expr(pred))
                    if pred
                    else _pq_sub_qdf(spark, SF, m)
                ),
                k=16,
                iters=2,
            )
            for m in range(8)
        ]
        assert fused == seq, f"pred={pred}"


def test_pq_fused_iteration_plan_is_one_exchange(spark):
    """The fused update stage's scale contract: map-only explode (book
    literals, no join) feeding exactly ONE Exchange (the M·k-group
    partial agg)."""
    from data_warehouse_flink_spark.functions.clustering import (
        pq_lloyd_iteration_sums,
    )
    from data_warehouse_flink_spark.plans.llm_ops import (
        _kmeans_qdf,
        _pq_train_model,
    )

    books = _pq_train_model(spark, SF)
    plan = (
        pq_lloyd_iteration_sums(_kmeans_qdf(spark, SF), books)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_recall_report_has_sampled_tier(spark):
    from data_warehouse_flink_spark.registry import _REGISTRY, load_all

    load_all()
    rows = (
        _REGISTRY["knn_recall_report"]
        .spark_fn(spark, SF)
        .select("tier", "recall_ppm")
        .collect()
    )
    by_tier = {r["tier"]: r["recall_ppm"] for r in rows}
    assert len(by_tier) == 9
    assert "ivf_trained_sampled" in by_tier
    assert "pq_trained_sampled" in by_tier
    # every trained/sampled tier produces a nonzero measured recall
    assert by_tier["ivf_trained"] > 0 and by_tier["ivf_trained_sampled"] > 0
    assert by_tier["pq_trained"] > 0 and by_tier["pq_trained_sampled"] > 0
