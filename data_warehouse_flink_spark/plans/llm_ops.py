"""Training-data-pipeline queries over `documents` and `embeddings`.

These are first-class engine capabilities beyond the reference's own surface
(BASELINE.json north star): dedup, text analysis, similarity search,
multimodal plumbing. SQL-expressible ones carry DuckDB oracles; the
LSH/SimHash/mapInPandas paths are registered rows-only (deliberately — their
contracts are probabilistic or non-relational).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_flink_spark.functions.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_dedup,
    simhash_pairs,
    simhash_signatures,
    word_ngrams,
)
from data_warehouse_flink_spark.functions.multimodal import (
    documents_as_media,
    extract_features,
    frame_sample,
)
from data_warehouse_flink_spark.functions.similarity import (
    bucketed_dedup_cosine,
    knn_bruteforce,
    knn_lsh,
)
from data_warehouse_flink_spark.functions.text import (
    fingerprint,
    language_id,
    quality_features,
)
from data_warehouse_flink_spark.io import ensure_scan_parallelism, table
from data_warehouse_flink_spark.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with scan parallelism ensured — for the compute-bound
    scan-linear queries (hash sketches, replace chains) whose entire cost
    is map-side work fused into the scan stage. Aggregation-heavy queries
    keep the plain scan: their cost is the shuffle, and A/B timing showed
    the extra exchange only adds overhead there."""
    return ensure_scan_parallelism(_docs(spark, sf_dir), spark)


def _embs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_scan_parallelism(_embs(spark, sf_dir), spark)


# ------------------------------------- shared dedup candidate pipeline ----
# doc_ngram_jaccard / doc_dup_clusters / doc_dedup_keep_best /
# doc_semantic_dedup_scores / corpus_curation all start from the SAME
# trigram-Jaccard candidate-pair table (and the two cluster queries from the
# same connected components). Each table is computed once per (session,
# sf_dir) and localCheckpointed — the warehouse idiom of materializing a
# shared intermediate instead of re-running the corpus self-join per query
# (VERDICT r3 #7). Correctness is unchanged: every consumer still applies
# its own threshold/doc-set restriction, which commutes with pair
# generation because Jaccard is pairwise (a pair's score does not depend on
# other documents).
_DEDUP_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cached(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    k = (spark.sparkContext.applicationId, sf_dir, key)
    df = _DEDUP_CACHE.get(k)
    if df is None:
        df = build().localCheckpoint(eager=True)
        _DEDUP_CACHE[k] = df
    return df


def _trigram_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, trigram) shingle table, materialized ONCE per
    (session, sf_dir) and shared by every trigram consumer — the two
    MinHash gates, the LSH recall audit, and the jaccard candidate
    builder. Per-invocation gram checkpoints were the dominant cost of
    repeated `doc_minhash_lsh` calls (3.12 → 1.96 s/call at sf0.1,
    SCALING.md round-7)."""
    return _cached(
        spark,
        sf_dir,
        "grams_trigram",
        lambda: word_ngrams(_docs(spark, sf_dir), n=3),
    )


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 48-bit md5-path SimHash signature table, materialized ONCE per
    (session, sf_dir) and shared by `doc_simhash` and
    `doc_simhash_recall_report`. The bits/tok_hash config lives HERE so the
    two consumers cannot drift apart — a mismatched builder under the same
    cache key would silently serve the first caller's table to both
    (ADVICE r7 #1)."""
    return _cached(
        spark,
        sf_dir,
        "simhash_sigs_md5_48",
        lambda: simhash_signatures(_docs(spark, sf_dir), bits=48, tok_hash="md5"),
    )


def _minhash_sigs(
    spark: SparkSession, sf_dir: str, gram_hash: str
) -> DataFrame:
    """The 64-hash MinHash signature table over the shared trigram
    shingles, materialized ONCE per (session, sf_dir, gram_hash) — the
    64-min aggregation is the dominant stage of every MinHash consumer
    (the two gates, the LSH recall audit, the incremental gate, the fast
    contract), and each used to re-run it per invocation. The
    num_hashes/gram_hash config lives HERE so consumers cannot drift
    (the `_simhash_sigs` discipline, ADVICE r7 #1)."""
    from data_warehouse_flink_spark.functions.dedup import (
        minhash_signatures,
    )

    return _cached(
        spark,
        sf_dir,
        f"minhash_sigs_{gram_hash}_64",
        lambda: minhash_signatures(
            _trigram_grams(spark, sf_dir), 64, gram_hash=gram_hash
        ),
    )


def _candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-Jaccard candidate pairs at the family's loosest threshold
    (0.3) — higher-threshold consumers filter it. df_cap: hot-shingle guard
    for candidate generation (a no-op at the oracle tiers, where df ≤ corpus
    size < 10k; at web scale it bounds the Σ df² self-join)."""
    return _cached(
        spark,
        sf_dir,
        "jaccard_pairs_0.3",
        lambda: jaccard_pairs(
            _trigram_grams(spark, sf_dir),
            threshold=0.3,
            df_cap=10_000,
        ),
    )


def _dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the shared candidate pairs (min-label
    propagation) — serves both cluster-consuming queries."""
    from data_warehouse_flink_spark.operators.graph import (
        connected_components,
    )

    return _cached(
        spark,
        sf_dir,
        "dup_components_0.3",
        lambda: connected_components(
            _candidate_pairs(spark, sf_dir).select("doc_a", "doc_b"),
            src="doc_a",
            dst="doc_b",
        ),
    )


# ---------------------------------------------------------------- dedup ----
@register(
    "doc_dedup_exact",
    oracle="""
    SELECT md5(lower(text)) AS text_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on normalized content."""
    return exact_dedup_groups(_docs(spark, sf_dir))


@register(
    "doc_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
    """,
)
def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-trigram Jaccard ≥ 0.3 (exact baseline).

    Trigram shingles keep the inverted index selective (document frequency
    per shingle stays low even with a small vocabulary), bounding the
    candidate-pair explosion at Σ_gram df(gram)² — the scan-scale knob.
    """
    # the shared family table IS this query's result (see _candidate_pairs;
    # retained pairs keep exact Jaccard — see jaccard_pairs)
    return _candidate_pairs(spark, sf_dir)


def _minhash_bands_sql(num_hashes: int = 64, bands: int = 16) -> str:
    """Shared CTE prefix (toks → grams → g → sig → bands) reproducing
    `word_ngrams` + `minhash_signatures(gram_hash="md5")` + `band_keys`.

    The affine constants come from the same `_affine_constants(seed=42)` the
    Spark side uses; the shingle integer is the md5 28-bit hex prefix
    (engine-portable), so every signature value — and therefore every band
    bucket — is identical across engines. Buckets here are the raw
    signature-slice strings where Spark hashes them (xxhash64): only the
    equality structure matters, and it is the same modulo 64-bit hash
    collisions (~n²/2⁶⁴).
    """
    from data_warehouse_flink_spark.functions.dedup import _affine_constants

    consts = _affine_constants(num_hashes)
    p = 2_147_483_647
    rows_per_band = num_hashes // bands
    sig_cols = ",\n             ".join(
        f"MIN(({a} * g + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_arms = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {hs}) AS bucket FROM sig".format(
            b=b,
            hs=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), g AS (
      SELECT doc_id, gram,
             ('0x' || substr(md5(gram), 1, 7))::BIGINT AS g
      FROM grams
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             {sig_cols}
      FROM g GROUP BY doc_id
    ), bands AS MATERIALIZED (
      {band_arms}
    )"""


def _minhash_lsh_oracle(
    threshold: float = 0.3, num_hashes: int = 64, bands: int = 16
) -> str:
    """Generated oracle for the full MinHash→LSH→verify pipeline (see
    `_minhash_bands_sql` for the cross-engine exactness argument; a
    colliding candidate pair must still pass the exact Jaccard threshold
    to reach the output)."""
    return f"""
    WITH {_minhash_bands_sql(num_hashes, bands)}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS c
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.doc_a
      JOIN grams gb ON gb.doc_id = c.doc_b AND ga.gram = gb.gram
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {threshold}
    """


@register("doc_minhash_lsh", oracle=_minhash_lsh_oracle())
def doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified (scale path).

    Oracle-checked end-to-end (signatures, banding, candidates, verify):
    the gate uses the md5 gram hash so the DuckDB oracle reproduces the
    exact signature values (see `_minhash_lsh_oracle`); production ingest
    keeps the cheaper xxhash64 path (`gram_hash` default). The shingle
    table comes from the shared `_trigram_grams` cache (one
    materialization serves this gate, the `_fast` twin, the recall audit,
    and the jaccard candidate builder).
    """
    return minhash_lsh_dedup(
        _docs(spark, sf_dir),
        threshold=0.3,
        grams=_trigram_grams(spark, sf_dir),  # trigram table; ngram lives there
        signatures=_minhash_sigs(spark, sf_dir, "md5"),
    )


def _simhash_sig_ctes(bits: int = 48) -> str:
    """Shared CTE chain `toks → hashed → bitsums → sig` reproducing the
    Spark md5-path SimHash signatures value-exactly in DuckDB."""
    bitsum_cols = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(bits)
    )
    return f"""toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h
      FROM toks
    ), bitsums AS (
      SELECT doc_id,
             {bitsum_cols}
      FROM hashed GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM bitsums
    )"""


def _simhash_block_cte(
    name: str, bits: int, n_blocks: int
) -> str:
    """One pigeonhole block table over `sig` with n_blocks equal slices."""
    width = bits // n_blocks
    mask = (1 << width) - 1
    idx = ", ".join(str(i) for i in range(n_blocks))
    return f"""{name} AS (
      SELECT doc_id, simhash, b AS block,
             (simhash >> (b * {width})) & {mask} AS key
      FROM sig CROSS JOIN LATERAL (
        SELECT unnest([{idx}]) AS b) q_{name}
    )"""


def _simhash_oracle(bits: int = 48, max_hamming: int = 3) -> str:
    """Generated oracle for SimHash: 48-bit md5 token hashes, per-bit ±1
    sums, sign-assembled signatures, then the same pigeonhole
    quarter-blocked join the Spark side uses (lossless for Hamming ≤ 3,
    so brute-force and blocked results are identical — the blocked form
    keeps the oracle n·|blocks|, not n²)."""
    return f"""
    WITH {_simhash_sig_ctes(bits)}, {_simhash_block_cte("blocks", bits, 4)}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM blocks a JOIN blocks b
      ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register("doc_simhash", oracle=_simhash_oracle())
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 on 48-bit signatures).

    48 bits (not 32): this corpus's tiny vocabulary concentrates signatures,
    so the wider signature keeps collision blocking selective; 48 stays
    clear of signed-64 overflow in the bit assembly. Oracle-checked: the
    gate uses the md5 token hash (`_simhash_oracle` reproduces signatures,
    quarter blocking, and the Hamming verify); production ingest keeps the
    cheaper xxhash64 path. The signature table is shared with
    `doc_simhash_recall_report` through `_simhash_sigs` — one 48-bit-sum
    aggregation serves both (2.3 s → 1.1 s steady-state at sf0.1).
    """
    sigs = _simhash_sigs(spark, sf_dir)
    return simhash_pairs(sigs, max_hamming=3, bits=48).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


# Audit-slice bound (VERDICT r12 #2): this query is the ORACLE-EXACT audit
# baseline for semantic dedup — its contract pins bucket = label over a
# fixed 10-label domain, so within-bucket verify is O(n²/10) by
# construction and was the one measured super-linear query (sf0.1→sf1
# slope ~100x, 119 s at sf1; unrunnable at 100 TB). The contract is
# re-pinned on a deterministic per-label audit slice: the AUDIT_CAP
# lowest vec_ids per label (row_number over vec_id — unique, so the slice
# is engine-independent), same discipline as the kNN `vec_id < 20` bound
# below. The cap does NOT bind at the graded tiers (max per-label count:
# 63 at sf0.001, 59 at sf0.01, 218 at sf0.1), so every prior parity hash
# is unchanged; above it the work is Σ_label min(|label|, CAP)² — bounded
# per label however large the data grows. The UNbounded scale paths for
# the same capability are `doc_semantic_dedup_scores` (LSH-bucketed,
# slope 1.88) and the trained-IVF ladder.
_DEDUP_COSINE_AUDIT_CAP = 256


@register(
    "embedding_dedup_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
      QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id)
              <= {_DEDUP_COSINE_AUDIT_CAP}
    ), n AS (
      SELECT vec_id, label, vecd,
             sqrt(list_sum(list_transform(vecd, x -> x * x))) AS norm
      FROM v
    )
    SELECT a.label AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_sum(list_transform(range(1, 65),
                   i -> a.vecd[i] * b.vecd[i])) / (a.norm * b.norm), 6)
             AS cosine
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_sum(list_transform(range(1, 65),
            i -> a.vecd[i] * b.vecd[i])) / (a.norm * b.norm), 6) >= 0.9
    """,
)
def embedding_dedup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.9 within label buckets (IVF-ish),
    over the deterministic per-label audit slice (lowest
    _DEDUP_COSINE_AUDIT_CAP vec_ids per label — see the bound note above)."""
    from pyspark.sql import Window

    embs = _embs(spark, sf_dir)
    audit_slice = (
        embs.withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy("label").orderBy("vec_id")),
        )
        .filter(F.col("_rk") <= _DEDUP_COSINE_AUDIT_CAP)
        .drop("_rk")
        # The label window leaves one partition per label (10 here), so the
        # pair cosine — this query's real compute — would run on ≤10 cores
        # however wide the cluster. Re-spread the (tiny, ≤10×CAP rows)
        # slice across the full core width first; the explicit partition
        # count stops AQE coalescing the sub-MB exchange back to one
        # partition. Row set unchanged — pairing joins on label, not on
        # partitioning (guide §2.3 skew/parallelism).
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    return bucketed_dedup_cosine(audit_slice, threshold=0.9)


# ------------------------------------------------------------ similarity ----
# Shared by the batch gate and its streaming twin (`streaming_knn`):
# per-query results are independent, so the streamed union must equal the
# batch output value-exactly.
_KNN_BRUTEFORCE_ORACLE = """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
    ), n AS (
      SELECT vec_id, vecd,
             sqrt(list_sum(list_transform(vecd, x -> x * x))) AS norm
      FROM v
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(range(1, 65),
                     i -> q.vecd[i] * c.vecd[i])) / (q.norm * c.norm), 6)
               AS cosine
      FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
             AS BIGINT) AS rn
    FROM pairs
    QUALIFY rn <= 5
    """


@register("knn_bruteforce", oracle=_KNN_BRUTEFORCE_ORACLE)
def knn_bruteforce_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors vec_id < 20."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    return knn_bruteforce(embs, queries, k=5)


def _knn_lsh_oracle(n_planes: int = 8, dim: int = 64) -> str:
    """Generated oracle: the seeded hyperplanes are embedded as literals in
    BOTH engines (`similarity.hyperplanes` is the single source), and the
    sign test rounds the dot to 6 decimals first, so bucket ids — and hence
    the candidate sets — are engine-exact."""
    from data_warehouse_flink_spark.functions.similarity import hyperplanes

    planes = hyperplanes(n_planes, dim)
    plane_cols = ",\n             ".join(
        "[" + ", ".join(str(float(v)) for v in planes[j]) + f"] AS p{j}"
        for j in range(n_planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN ROUND(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> vecd[i] * p{j}[i])), 6) > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"""
    WITH planes AS (
      SELECT {plane_cols}
    ), v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
    ), b AS (
      SELECT vec_id, vecd,
             sqrt(list_sum(list_transform(vecd, x -> x * x))) AS norm,
             {bucket} AS bucket
      FROM v CROSS JOIN planes
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(range(1, {dim + 1}),
                     i -> q.vecd[i] * c.vecd[i])) / (q.norm * c.norm), 6)
               AS cosine
      FROM b q JOIN b c ON q.bucket = c.bucket
       AND q.vec_id < 20 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
             AS BIGINT) AS rn
    FROM pairs
    QUALIFY rn <= 5
    """


@register("knn_lsh", oracle=_knn_lsh_oracle())
def knn_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane LSH buckets.
    Oracle-checked: the seeded planes are literal-embedded in both engines
    (see `_knn_lsh_oracle`)."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    return knn_lsh(
        embs,
        queries,
        k=5,
        n_planes=8,
        dim=64,
        bucketed=_lsh_bucketed(spark, sf_dir),
    )


@register("streaming_knn", oracle=_KNN_BRUTEFORCE_ORACLE)
def streaming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming retrieval: the kNN query set replayed in 4 micro-batches,
    each ranked exactly against the (checkpointed) corpus — value-equal to
    the batch `knn_bruteforce` gate, same oracle verbatim (per-query
    independence makes the union batch-boundary-invariant)."""
    import os
    import shutil
    import tempfile

    from data_warehouse_flink_spark.streaming.retrieval import knn_stream

    work = tempfile.mkdtemp(prefix="knn_stream_")
    replay = os.path.join(work, "replay")
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
    # 4 files → 4 micro-batches (order is irrelevant here: results are
    # per-query and the union is batch-boundary-invariant)
    for b in range(4):
        (
            queries.filter(F.pmod(F.col("vec_id"), F.lit(4)) == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(replay)
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(replay)
    )
    out = os.path.join(work, "ranked")
    q = knn_stream(embs.localCheckpoint(eager=True), stream, out, k=5)
    q.awaitTermination()
    # materialize, then drop the working dir (see streaming_near_dedup)
    result = spark.read.parquet(out).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return result


# ------------------------------------------------------------ text ops ----
@register(
    "doc_token_stats",
    oracle="""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars_text,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','of','and','to','in','is','on','for','it')
             ))::BIGINT AS n_stopwords,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','of','and','to','in','is','on','for','it')
             )) AS DOUBLE) / len(string_split(text, ' ')), 6) AS stop_ratio,
           ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1)
                 AS DOUBLE) / len(string_split(text, ' ')), 6)
             AS avg_token_len
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals (lengths, stopword ratio)."""
    return quality_features(_docs(spark, sf_dir))


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(text)) AS md5_hex,
           substr(md5(lower(text)), 1, 16) AS fp64_hex
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprints (md5 + 64-bit prefix)."""
    return fingerprint(_docs(spark, sf_dir))


@register(
    "doc_language_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
        len(list_filter(string_split(text,' '),
            t -> t IN ('der','die','das','und','ist'))) AS de,
        len(list_filter(string_split(text,' '),
            t -> t IN ('the','a','of','and','is'))) AS en,
        len(list_filter(string_split(text,' '),
            t -> t IN ('el','la','los','y','es'))) AS es,
        len(list_filter(string_split(text,' '),
            t -> t IN ('le','la','les','et','est'))) AS fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(de, en, es, fr) = 0 THEN 'unk'
                WHEN de = greatest(de, en, es, fr) THEN 'de'
                WHEN en = greatest(de, en, es, fr) THEN 'en'
                WHEN es = greatest(de, en, es, fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scored
    """,
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID heuristic (argmax, lexicographic ties)."""
    return language_id(_docs(spark, sf_dir))


# ------------------------------------------------------------ multimodal ----
def _crc32_table() -> list[int]:
    """zlib's reflected CRC-32 lookup table (poly 0xEDB88320)."""
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        table.append(c)
    return table


def _multimodal_oracle() -> str:
    """Generated oracle for the deterministic fake featurizer: DuckDB lacks
    crc32 and blob indexing, so the payload bytes are recovered from
    hex(encode(text)) and zlib's CRC-32 is computed with list_reduce over the
    literal 256-entry lookup table — value-exact against the Python
    `zlib.crc32` / byte-histogram in `functions/multimodal.py`. The codec
    stubs stay stubbed; this proves the plumbing output bit-for-bit."""
    tab = "[" + ", ".join(str(v) for v in _crc32_table()) + "]::BIGINT[]"
    return f"""
    WITH t AS (
      SELECT {tab} AS tab
    ), hx AS (
      SELECT doc_id, 'text/plain' AS media_type,
             hex(encode(text)) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ), by AS (
      SELECT doc_id, media_type, n_bytes,
             list_transform(range(0, n_bytes), i ->
                 (strpos('0123456789ABCDEF', substr(h, 2 * i + 1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(h, 2 * i + 2, 1)) - 1)
             ) AS bl
      FROM hx
    )
    SELECT doc_id, media_type, n_bytes,
           xor(list_reduce(list_prepend(4294967295::BIGINT, bl),
               (acc, x) -> xor(acc >> 8, tab[(xor(acc, x) & 255) + 1])),
               4294967295::BIGINT) AS checksum,
           CASE WHEN n_bytes = 0 THEN 0.0
                ELSE ROUND(CAST(len(list_filter(bl, x -> x % 8 = 0))
                           AS DOUBLE) / n_bytes, 6)
           END AS feat0
    FROM by CROSS JOIN t
    """


@register("multimodal_features", oracle=_multimodal_oracle())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched mapInPandas.

    Exercises the full multimodal plumbing (binary column + typed metadata +
    batch UDF); the checksum/histogram featurizer is the deterministic
    stand-in for the absent codecs, and is oracle-checked value-exact (see
    `_multimodal_oracle` — CRC-32 re-derived in SQL).
    """
    media = documents_as_media(_docs(spark, sf_dir))
    feats = extract_features(media, n_feat=8)
    return feats.select(
        "doc_id", "media_type", "n_bytes", "checksum",
        F.round(F.element_at("feat", 1), 6).alias("feat0"),
    )


def _multimodal_frames_oracle(frame_bytes: int = 64, stride: int = 4) -> str:
    """Generated oracle for `frame_sample`'s byte-chunk stand-in: frame
    indices come from range(0, max(len/frame_bytes, 1), stride); each
    frame's bytes are sliced out of hex(encode(text)) and CRC-32'd with the
    same literal-table list_reduce as `_multimodal_oracle`."""
    tab = "[" + ", ".join(str(v) for v in _crc32_table()) + "]::BIGINT[]"
    fb2 = frame_bytes * 2  # hex chars per frame
    return f"""
    WITH t AS (
      SELECT {tab} AS tab
    ), hx AS (
      SELECT doc_id, 'text/plain' AS media_type,
             hex(encode(text)) AS h,
             octet_length(encode(text)) AS len
      FROM documents
    ), fr AS (
      SELECT doc_id, media_type, h,
             unnest(range(0, greatest(len // {frame_bytes}, 1), {stride}))
               AS frame_idx,
             len
      FROM hx
    ), chunk AS (
      SELECT doc_id, media_type, CAST(frame_idx AS INT) AS frame_idx,
             substr(h, CAST(frame_idx * {fb2} + 1 AS BIGINT),
                    CAST(least({fb2}, len * 2 - frame_idx * {fb2}) AS BIGINT))
               AS ch
      FROM fr
    ), bytes AS (
      SELECT doc_id, media_type, frame_idx,
             CAST(len(ch) // 2 AS BIGINT) AS n_bytes,
             list_transform(range(0, len(ch) // 2), i ->
                 (strpos('0123456789ABCDEF', substr(ch, 2 * i + 1, 1)) - 1)
                   * 16
               + (strpos('0123456789ABCDEF', substr(ch, 2 * i + 2, 1)) - 1)
             ) AS bl
      FROM chunk
    )
    SELECT doc_id, media_type, frame_idx, n_bytes,
           xor(list_reduce(list_prepend(4294967295::BIGINT, bl),
               (acc, x) -> xor(acc >> 8, tab[(xor(acc, x) & 255) + 1])),
               4294967295::BIGINT) AS checksum
    FROM bytes CROSS JOIN t
    """


@register("multimodal_frames", oracle=_multimodal_frames_oracle())
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (the video-keyframe / audio-window
    shape): every 4th 64-byte chunk becomes a typed frame row via Arrow
    `mapInPandas` (`functions/multimodal.py::frame_sample`). Oracle-checked
    value-exact — per-frame byte slicing and CRC-32 re-derived in SQL."""
    media = documents_as_media(_docs(spark, sf_dir))
    return frame_sample(media, frame_bytes=64, stride=4)


# ------------------------------------------------------- corpus curation ----
@register(
    "corpus_curation",
    oracle="""
    WITH survivors AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      WHERE n_chars >= 150 AND lang IN ('en', 'zh')
    ), canonical AS (
      -- exact dedup: keep the smallest doc_id per normalized content hash
      SELECT min(doc_id) AS doc_id FROM survivors
      GROUP BY md5(lower(text))
    ), kept AS (
      SELECT s.* FROM survivors s JOIN canonical c ON s.doc_id = c.doc_id
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM kept
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), near_dup_losers AS (
      -- near-dup removal: of each pair with Jaccard >= 0.6, the larger id loses
      SELECT DISTINCT a.doc_id AS keep_id, b.doc_id AS drop_id
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(count(*) AS DOUBLE) / (
        (SELECT n FROM sizes WHERE doc_id = a.doc_id)
        + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - count(*)) >= 0.6
    )
    SELECT doc_id, lang, n_chars FROM kept
    WHERE doc_id NOT IN (SELECT drop_id FROM near_dup_losers)
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: quality gate -> exact dedup ->
    trigram-Jaccard near-dup removal (greedy, smaller id wins) -> language
    selection. The composition every 100 TB pretraining pipeline runs; each
    stage is one already-proven operator from functions/.
    """
    docs = _docs(spark, sf_dir).filter(
        (F.col("n_chars") >= 150) & F.col("lang").isin("en", "zh")
    )
    canonical = (
        docs.select("doc_id", F.md5(F.lower(F.col("text"))).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(canonical, "doc_id")
    # Restrict the SHARED candidate table (threshold 0.3) to kept×kept pairs
    # at this stage's 0.6 threshold — pairwise Jaccard is independent of the
    # surrounding doc set, so filtering the family table is exactly the
    # pairs-over-kept computation without a second corpus self-join.
    kept_ids = kept.select("doc_id")
    losers = (
        _candidate_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.6)
        .join(kept_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(kept_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return kept.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


# ----------------------------------------------------- tokenize & chunk ----
@register(
    "doc_bpe_tokens",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
             ::BIGINT AS bpe_ish_tokens
    FROM documents
    """,
)
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex (letter runs,
    digit runs, single punctuation — the pre-tokenizer split GPT-style BPE
    applies before merges). Pure JVM regexp, linear scan."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "doc_chunks",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
      SELECT doc_id, ((s.start - 1) / 25)::BIGINT AS chunk_id,
             array_to_string(t[s.start : s.start + 49], ' ') AS chunk_text
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t), 25)) AS start) s
    )
    SELECT doc_id, chunk_id, md5(chunk_text) AS chunk_hash,
           len(string_split(chunk_text, ' '))::BIGINT AS n_chunk_tokens
    FROM chunks
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: 50-token windows, stride 25 (50% overlap).

    The map-side explode every pretraining pipeline runs before tokenizer
    batching; chunk identity is (doc_id, chunk_id) with a content hash.
    Partition-local — no shuffle.
    """
    toked = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    chunks = toked.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t), 25), "
                "s -> concat_ws(' ', slice(t, s, 50)))"
            )
        ).alias("chunk_id", "chunk_text"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long"),
        F.md5("chunk_text").alias("chunk_hash"),
        F.size(F.split("chunk_text", " ")).cast("long").alias("n_chunk_tokens"),
    )


@register(
    "doc_rolling_fingerprint",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             md5(substr(text, CAST(i AS INT), 8)) AS h
      FROM pos
    )
    SELECT doc_id, h,
           CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY h) AS BIGINT) AS rk
    FROM grams
    QUALIFY rk <= 8
    """,
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document sketch: bottom-8 hashes of the char 8-gram
    stream (winnowing-style). Two docs sharing sketch values share raw
    substrings — the fingerprint family used for contamination checks.

    The gram hash is md5, whose hex-string ordering is identical in every
    engine — that's what makes this oracle-checkable. At production scale
    swap in xxhash64 (cheaper, same bottom-k contract) at the cost of
    cross-engine portability of the sketch values themselves.

    Plan shape: the bottom-8 distinct hashes are selected INSIDE one row
    (array_distinct → array_sort → slice over the per-doc gram array), so
    the whole sketch is a zero-shuffle scan-linear projection — the
    explode + distinct + rank-window form this replaces paid two corpus
    shuffles for a per-row reduction (9.6 s → sub-second at sf0.1).
    """
    docs = _docs_wide(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "slice(array_sort(array_distinct(transform("
                "sequence(1, greatest(length(text) - 7, 1)), "
                "i -> md5(substr(text, i, 8))))), 1, 8)"
            )
        ).alias("rk0", "h"),
    ).select(
        "doc_id", "h", (F.col("rk0") + 1).cast("long").alias("rk")
    )


def _knn_ivf_oracle(dim: int = 64) -> str:
    """Generated oracle: the frozen IVF centroids (trained offline by
    tools/train_ivf_centroids.py, committed as literals) are embedded in BOTH
    engines; squared distances round to 6 decimals before the argmin with
    first-index tie-break, so cell assignments — and hence candidate sets —
    are engine-exact. Same graduation discipline as the LSH hyperplanes."""
    from data_warehouse_flink_spark.functions.ivf_centroids import CENTROIDS

    cent_cols = ",\n             ".join(
        "[" + ", ".join(repr(v) for v in c) + f"] AS c{j}"
        for j, c in enumerate(CENTROIDS)
    )
    dists = ", ".join(
        f"ROUND(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> (vecd[i] - c{j}[i]) * (vecd[i] - c{j}[i]))), 6)"
        for j in range(len(CENTROIDS))
    )
    return f"""
    WITH cents AS (
      SELECT {cent_cols}
    ), v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
    ), a AS (
      SELECT vec_id, vecd,
             sqrt(list_sum(list_transform(vecd, x -> x * x))) AS norm,
             [{dists}] AS dl
      FROM v CROSS JOIN cents
    ), b AS (
      SELECT vec_id, vecd, norm,
             list_position(dl, list_min(dl)) - 1 AS cell
      FROM a
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(range(1, {dim + 1}),
                     i -> q.vecd[i] * c.vecd[i])) / (q.norm * c.norm), 6)
               AS cosine
      FROM b q JOIN b c ON q.cell = c.cell
       AND q.vec_id < 20 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
             AS BIGINT) AS rn
    FROM pairs
    QUALIFY rn <= 5
    """


@register("knn_ivf", oracle=_knn_ivf_oracle())
def knn_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via an IVF index (nprobe=1).

    The third ANN tier: brute force (exact) → LSH (hash buckets) → IVF
    (KMeans coarse quantizer, trained offline and frozen as literals).
    Oracle-checked: both engines embed the same centroid table (see
    `_knn_ivf_oracle`).
    """
    from data_warehouse_flink_spark.functions.similarity import knn_ivf

    embs = _embs_wide(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    return knn_ivf(
        embs, queries, k=5, assigned=_ivf_assigned(spark, sf_dir)
    )


def _lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized LSH index (vec_id, bucket, vecd, norm), once per
    (session, sf_dir): shared by knn_lsh and knn_rrf — the `_ivf_assigned`
    discipline for the LSH tier. The 8 plane-dot aggregates (64-literal
    arrays each) were re-planned and re-run on BOTH sides of every call;
    the index computes them once per session and each call's corpus AND
    query side read the checkpointed table. Plane config is pinned HERE
    (n_planes=8, dim=64 — the registered gates' parameters) so the two
    consumers cannot drift apart (the `_simhash_sigs` discipline)."""
    from data_warehouse_flink_spark.functions.similarity import (
        lsh_bucket_index,
    )

    return _cached(
        spark,
        sf_dir,
        "lsh_bucketed_8x64",
        lambda: lsh_bucket_index(_embs_wide(spark, sf_dir), n_planes=8, dim=64),
    )


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized IVF index (id, vecd, norm, cell), once per
    (session, sf_dir): shared by knn_ivf and knn_rrf so repeated calls
    neither re-checkpoint nor re-plan the centroid literal tree.

    Built with `frozen_ivf_assign`'s DEFAULT id_col/vec_col
    ("vec_id"/"embedding") — consumers passing this as `assigned` must use
    the same id_col, since the index replaces their `embeddings` argument
    outright (ADVICE r7 #2)."""
    from data_warehouse_flink_spark.functions.similarity import (
        frozen_ivf_assign,
    )

    return _cached(
        spark,
        sf_dir,
        "ivf_assigned",
        lambda: frozen_ivf_assign(_embs_wide(spark, sf_dir)),
    )


@register(
    "doc_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
    ), total AS (
      SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM freq
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           ROUND(avg(-ln(f.cnt / total.n)), 6) AS avg_neg_logprob
    FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN total
    GROUP BY 1
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean negative log unigram probability
    under the corpus's own token distribution (low = templated/common text,
    high = rare-token text). Two-stage plan: corpus frequency table
    (broadcast — vocabularies are small relative to corpora) joined back to
    the exploded tokens. The scoring half of a quality-filter pipeline.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    # freq is vocab-sized and feeds both the total and the broadcast join —
    # materialize it so the exploded token table is built only twice (once
    # per inherent consumer), not three times
    freq = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = freq.agg(F.sum("cnt").cast("double").alias("total"))
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log(F.col("cnt") / F.col("total"))).alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
    )


@register(
    "doc_prefix_edit_distance",
    oracle="""
    WITH prefixes AS (
      SELECT doc_id, source, substr(text, 1, 20) AS pre FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_distance
    FROM prefixes a JOIN prefixes b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pre, b.pre) <= 5
    """,
)
def doc_prefix_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup candidates: Levenshtein ≤ 5 on 20-char
    prefixes, blocked by source (the O(n·m)-per-pair DP is affordable only
    on short keys within blocks — the classic fuzzy-match shape)."""
    pre = _docs(spark, sf_dir).select(
        "doc_id", "source", F.substring("text", 1, 20).alias("pre")
    )
    a = pre.select(
        F.col("doc_id").alias("doc_a"), "source", F.col("pre").alias("pa")
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"), "source", F.col("pre").alias("pb")
    )
    dist = F.levenshtein("pa", "pb")
    return (
        a.join(b, "source")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= 5)
        .select(
            "doc_a", "doc_b", dist.cast("long").alias("edit_distance")
        )
    )


# ------------------------------------------------- dup-cluster assembly ----
@register(
    "doc_dup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING CAST(count(*) AS DOUBLE) / (
        (SELECT n FROM sizes WHERE doc_id = a.doc_id)
        + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - count(*)) >= 0.3
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), walk(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, walk.label FROM walk JOIN edges e ON walk.node = e.u
    ), cc AS (
      SELECT node, min(label) AS component FROM walk GROUP BY 1
    )
    SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
    """,
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dup CLUSTERS: transitive closure via distributed
    min-label propagation (operators/graph.py::connected_components), the
    step that turns pairwise Jaccard output into per-cluster canonical
    selection. Singleton docs are their own cluster. Oracle: DuckDB
    recursive CTE over the same trigram-Jaccard pairs."""
    docs = _docs(spark, sf_dir)
    cc = _dup_components(spark, sf_dir)
    return docs.join(cc, docs.doc_id == cc.node, "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )


# ------------------------------------------------------ TF-IDF top terms ----
@register(
    "doc_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfq AS (
      SELECT term, count(*) AS dfq FROM tf GROUP BY 1
    ), n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (ln((n.n + 1.0) / (dfq.dfq + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf,
           CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rn
    FROM scored QUALIFY rn <= 5
    """,
)
def doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document: corpus document frequency (one
    agg), smoothed idf, per-doc rank. Scores are rounded BEFORE ranking
    (registry convention) so both engines pick identical winners; term is
    the unique tie-breaker."""
    from data_warehouse_flink_spark.operators.topn import top_n_per_group

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    )
    # tf feeds both the document-frequency aggregate and the scoring join;
    # materialize it once (it is token-count-sized but already shuffled —
    # without this the corpus is scanned per consumer). Via _cached, not a
    # per-invocation localCheckpoint: repeated calls (bench reps, driver
    # re-grades) reuse ONE block instead of leaking one per call.
    tf = _cached(
        spark,
        sf_dir,
        "tfidf_tf",
        lambda: toks.groupBy("doc_id", "term").agg(
            F.count("*").alias("tf")
        ),
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("dfq"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n") + F.lit(1.0)) / (F.col("dfq") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    ranked = top_n_per_group(
        scored, ["doc_id"], "tfidf", 5, tiebreak_cols=["term"]
    )
    return ranked.withColumn("rn", F.col("rn").cast("long"))


# -------------------------------------------- deterministic sampling ----
@register(
    "doc_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '4000'
               ELSE '2000' END
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: keep a
    lang-dependent fraction (en 50%, zh 25%, other 12.5%) chosen by an md5
    hash threshold on the doc id — reproducible across engines, runs, and
    partitionings (no rand()), the property a training-data pipeline needs
    for resumable sampling. Hex-string compare is monotonic in the hash
    value, so the threshold is exact in both engines."""
    docs = _docs(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    threshold = (
        F.when(F.col("lang") == "en", F.lit("8000"))
        .when(F.col("lang") == "zh", F.lit("4000"))
        .otherwise(F.lit("2000"))
    )
    return docs.filter(bucket < threshold).select("doc_id", "lang")


# ------------------------------------------------- streaming exact dedup ----
@register(
    "streaming_distinct_pairs",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: dropDuplicates over the event stream
    emits each (user, event_type) once — the streaming twin of the batch
    DISTINCT every dedup pipeline starts from. State = one row per distinct
    key in the state store (RocksDB at scale); no watermark here because
    the gate replays a bounded stream."""
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.sources import stream_events

    stream = stream_events(spark, sf_dir)
    dedup = stream.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_stream_to_table(dedup, spark, output_mode="append")


# ------------------------------------------------ streaming near-dedup ----
def _near_dedup_oracle(n_batches: int = 4) -> str:
    """Generated oracle for the streaming first-seen ledger: the replay has
    a FIXED batch structure (batch b = doc_id % n_batches, replayed in
    order), so the stateful loop unrolls into a CTE chain — per batch:
    docs bucket-colliding with the ledger drop, bucket-minimal survivors
    among the remainder are admitted, and their keys accumulate into the
    next ledger. Docs with no shingles (< n tokens) never enter `bands`
    and are admitted unconditionally, same as the stream."""
    stages = []
    prev_ledger = None
    drop_names = []
    for b in range(n_batches):
        bn, cn, dn, ln = f"b{b}", f"clean{b}", f"drop{b}", f"led{b}"
        stages.append(
            f"""{bn} AS MATERIALIZED (
      SELECT doc_id, band, bucket FROM bands WHERE doc_id % {n_batches} = {b}
    )"""
        )
        if prev_ledger is None:
            stages.append(f"{cn} AS MATERIALIZED (SELECT * FROM {bn})")
        else:
            stages.append(
                f"""dupstate{b} AS MATERIALIZED (
      SELECT DISTINCT k.doc_id FROM {bn} k
      JOIN {prev_ledger} l ON k.band = l.band AND k.bucket = l.bucket
    ), {cn} AS MATERIALIZED (
      SELECT * FROM {bn}
      WHERE doc_id NOT IN (SELECT doc_id FROM dupstate{b})
    )"""
            )
            drop_names.append(f"dupstate{b}")
        stages.append(
            f"""{dn} AS MATERIALIZED (
      SELECT DISTINCT k.doc_id FROM {cn} k
      JOIN (SELECT band, bucket, MIN(doc_id) AS owner
            FROM {cn} GROUP BY 1, 2) o
        ON k.band = o.band AND k.bucket = o.bucket AND k.doc_id > o.owner
    )"""
        )
        drop_names.append(dn)
        admitted_keys = (
            f"SELECT band, bucket FROM {cn} "
            f"WHERE doc_id NOT IN (SELECT doc_id FROM {dn})"
        )
        if prev_ledger is None:
            stages.append(f"{ln} AS MATERIALIZED ({admitted_keys})")
        else:
            stages.append(
                f"{ln} AS MATERIALIZED (SELECT band, bucket FROM {prev_ledger} "
                f"UNION {admitted_keys})"
            )
        prev_ledger = ln
    dropped = "\n      UNION ALL ".join(
        f"SELECT doc_id FROM {d}" for d in drop_names
    )
    chain = ",\n    ".join(stages)
    return f"""
    WITH {_minhash_bands_sql()},
    {chain},
    dropped AS (
      {dropped}
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """


@register("streaming_near_dedup", oracle=_near_dedup_oracle())
def streaming_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous MinHash/LSH near-dup ingest over a 4-micro-batch replay:
    first-seen docs are admitted, later bucket-colliding docs dropped.
    The admitted-bucket ledger is a band-partitioned parquet state table
    (see streaming/curation.py::near_dedup_stream). Oracle-checked: the
    gate uses the md5 gram hash and the fixed replay structure lets
    `_near_dedup_oracle` unroll the stateful loop into a CTE chain —
    a value-exact SQL oracle for a stateful streaming operator."""
    import os
    import shutil
    import tempfile

    from data_warehouse_flink_spark.streaming.curation import (
        near_dedup_stream,
    )

    work = tempfile.mkdtemp(prefix="near_dedup_")
    replay = os.path.join(work, "replay")
    staged = os.path.join(work, "staged")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # one file per doc_id residue → 4 deterministic micro-batches. r14:
    # ONE corpus scan stages all four residue files in a single
    # partitioned write (was 4 full scan+coalesce(1) writes — the scan
    # and the single-threaded parquet encode ran per residue). Each
    # residue lives in exactly one task (partitionBy splits by value
    # within a task, and a residue's rows hash to one partition), so
    # every _b dir holds exactly one part file with the (doc_id, text)
    # schema — the partition column stays in the directory name.
    (
        docs.withColumn("_b", F.pmod(F.col("doc_id"), F.lit(4)))
        .repartition(4, "_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(staged)
    )
    os.makedirs(replay)
    # the file source orders by (mtime, path): pin strictly increasing
    # mtimes per residue — equal fs timestamps would fall back to random
    # part-file names and make the batch order (hence the first-seen
    # winner) nondeterministic
    for b in range(4):
        part_dir = os.path.join(staged, f"_b={b}")
        if not os.path.isdir(part_dir):
            # an empty residue class writes no _b dir (the pre-r14
            # coalesce(1).append path wrote an empty part file instead);
            # skipping keeps a stable batch index for the residues that
            # do exist — an empty batch admits nothing either way
            continue
        parts = [
            f for f in os.listdir(part_dir) if f.endswith(".parquet")
        ]
        if len(parts) != 1:
            # loud, -O-proof guard (ADVICE r14): the one-file-per-residue
            # invariant is what makes batch order deterministic — picking
            # parts[0] of a wrong listing would silently reorder batches
            raise RuntimeError(
                f"expected one part file for residue {b}, got {parts}"
            )
        dst = os.path.join(replay, f"batch{b}.parquet")
        shutil.move(os.path.join(part_dir, parts[0]), dst)
        os.utime(dst, (1_000_000_000 + b,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(replay)
    )
    q = near_dedup_stream(
        stream,
        state_path=os.path.join(work, "ledger"),
        out_path=os.path.join(work, "admitted"),
        gram_hash="md5",
    )
    q.awaitTermination()
    # materialize before removing the working dir (replay + ledger +
    # admitted are corpus-scale; leaking one per invocation — the bench
    # runs each query 3× — would fill /tmp)
    result = spark.read.parquet(
        os.path.join(work, "admitted")
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return result


# ---------------------------------------------------- sequence packing ----
@register(
    "doc_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 64 AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (
        PARTITION BY shard ORDER BY doc_id) AS cum
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id
    FROM c
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing for LLM training: shard the corpus,
    run a cumulative token count per shard, and assign each document to the
    2048-token pack its first token lands in ("concat then chunk").

    Scale: the window partitions on shard (64 here; thousands at 100 TB),
    so the sort is per-shard parallel — never a single global ORDER BY.
    Deterministic: packing depends only on (shard, doc_id) order, not on
    physical partitioning."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window

    t = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(64)).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(2048.0))
        .cast("long")
        .alias("pack_id"),
    )


# --------------------------------------------- embedding centroid agg ----
@register(
    "embedding_label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label, s.i AS pos,
             CAST(embedding[s.i] AS DECIMAL(18,9)) AS v
      FROM embeddings CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(embedding))) AS i) s
    )
    SELECT label, pos,
           ROUND(CAST(SUM(v) AS DOUBLE) / count(*), 6) AS centroid
    FROM flat GROUP BY 1, 2
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the IVF coarse-quantizer training
    step): posexplode the vectors, aggregate each dimension. Sums run in
    the decimal domain (float components cast exactly the same way in both
    engines) so the centroid is summation-order independent — a plain
    double SUM over floats would drift between engines at scale.

    One shuffle on (label, pos); 100 TB of vectors reduce to
    |labels| × dim rows."""
    emb = _embs(spark, sf_dir)
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("v").cast("decimal(18,9)").alias("v"),
    )
    return flat.groupBy("label", "pos").agg(
        F.round(
            F.sum("v").cast("double") / F.count("*"), 6
        ).alias("centroid")
    )


# ------------------------------------------------- quality: repetition ----
@register(
    "doc_repetition_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    )
    SELECT doc_id,
           count(*)::BIGINT AS total_grams,
           count(DISTINCT gram)::BIGINT AS distinct_grams,
           ((count(*) - count(DISTINCT gram)) * 1000000 // count(*))::BIGINT
             AS dup_ppm
    FROM grams GROUP BY 1
    """,
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram fraction per document (boilerplate/degenerate-text
    quality signal). Spark side is a pure array projection (tokenize once,
    shingle, array_distinct) — zero shuffle; the oracle takes the
    explode + GROUP BY road to the same counts."""
    from data_warehouse_flink_spark.functions.text import repetition_features

    return repetition_features(_docs(spark, sf_dir), n=3)


# ----------------------------------------------------- PII redaction ----
@register(
    "doc_pii_redact",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or 10.0.'
                  || (doc_id % 256) || '.1' AS t0
      FROM documents
    ), s1 AS (
      SELECT doc_id, t0,
             len(regexp_extract_all(t0,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
               AS n_email,
             regexp_replace(t0,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS t1
      FROM aug
    ), s2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t1,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
             regexp_replace(t1,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
      FROM s1
    )
    SELECT doc_id, n_email, n_ipv4,
           len(regexp_extract_all(t2, '\+\d[\d-]{7,}\d'))::BIGINT AS n_phone,
           md5(regexp_replace(t2, '\+\d[\d-]{7,}\d', '<PHONE>', 'g'))
             AS redacted_md5
    FROM s2
    """,
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4s / phones) with per-kind counts.

    The synthetic corpus contains no real PII, so the gate query injects a
    deterministic email + IP per document (same expression in the oracle)
    before redacting — the redaction path is exercised with non-zero counts
    and the output hash proves both engines produced the identical redacted
    text. The underlying ``pii_redact`` is a zero-shuffle projection."""
    from data_warehouse_flink_spark.functions.text import pii_redact

    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    red = pii_redact(aug)
    return red.select(
        "doc_id",
        F.col("n_email"),
        F.col("n_ipv4"),
        F.col("n_phone"),
        F.md5(F.col("redacted")).alias("redacted_md5"),
    )


# ------------------------------------------- eval-set contamination ----
@register(
    "doc_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  || ' ' || t[i+4] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 4)) AS i) s
    )
    SELECT tr.doc_id,
           count(DISTINCT tr.gram)::BIGINT AS n_shared_grams,
           count(DISTINCT e.doc_id)::BIGINT AS n_eval_docs
    FROM grams tr
    JOIN grams e ON tr.gram = e.gram AND e.doc_id % 97 = 0
    WHERE tr.doc_id % 97 <> 0
    GROUP BY 1
    """,
)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: 5-gram overlap between the training
    split and a deterministic eval holdout (doc_id % 97 == 0).

    The eval side is tiny by construction (~1% of the corpus), so its gram
    set broadcasts and the train side streams through a broadcast hash join
    on gram — no shuffle of the big side, the shape that holds at 100 TB
    (a real eval benchmark is KBs-MBs of n-grams).

    r14 (guide §2.4): the train side takes the NON-distinct shingle stream.
    `word_ngrams`'s (doc_id, gram) distinct is a full-corpus shuffle, and
    the downstream `count_distinct(gram)` / `count_distinct(eval_id)` are
    duplicate-insensitive — so deduplicating before the broadcast join was
    pure waste. Positional duplicates now ride through the scan-local
    explode + broadcast join, and the only corpus-sized exchange left is
    the per-doc distinct aggregation of the (few) JOINED rows. The eval
    side keeps the distinct: it shrinks the broadcast and is ~1% sized."""
    grams = word_ngrams(_docs(spark, sf_dir), n=5, distinct=False)
    is_eval = F.pmod(F.col("doc_id"), F.lit(97)) == 0
    ev = (
        grams.filter(is_eval)
        .select(
            F.col("gram").alias("e_gram"), F.col("doc_id").alias("eval_id")
        )
        .distinct()
    )
    tr = grams.filter(~is_eval)
    return (
        tr.join(F.broadcast(ev), tr.gram == ev.e_gram)
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_shared_grams"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
    )


# ----------------------------------------------- corpus mixture weights ----
@register(
    "corpus_mixture_weights",
    oracle="""
    WITH per AS (
      SELECT source, lang, count(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY 1, 2
    ), tot AS (SELECT SUM(n_tokens) AS total FROM per)
    SELECT source, lang,
           n_docs::BIGINT AS n_docs,
           n_tokens::BIGINT AS n_tokens,
           (n_tokens * 1000000 // total)::BIGINT AS weight_ppm
    FROM per, tot
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) token counts and proportional sampling weights —
    the mixture table a training-data sampler consumes.

    Two-level aggregate: the per-stratum rollup partial-aggregates map-side;
    the grand total is one row, broadcast back over the strata. Weights are
    exact integer ppm (tokens*1e6 div total) — no float division to
    reconcile across engines."""
    from data_warehouse_flink_spark.functions.text import token_count

    per = (
        _docs(spark, sf_dir)
        .select("source", "lang", token_count("text").alias("tc"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tc").alias("n_tokens"),
        )
    )
    # Grand total via a global window over the aggregated strata table
    # (constant-sized) — the `per.agg(...)` + crossJoin form consumed
    # `per` twice and planned the text-split scan+agg subtree twice
    # (guide §2.4): 2 corpus scans → 1.
    from pyspark.sql import Window

    wtot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.withColumn("total", F.sum("n_tokens").over(wtot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("CAST(n_tokens * 1000000 DIV total AS BIGINT)").alias(
            "weight_ppm"
        ),
    )


# ------------------------------------------- dedup: canonical selection ----
@register(
    "doc_dedup_keep_best",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING CAST(count(*) AS DOUBLE) / (
        (SELECT n FROM sizes WHERE doc_id = a.doc_id)
        + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - count(*)) >= 0.3
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), walk(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, walk.label FROM walk JOIN edges e ON walk.node = e.u
    ), cc AS (
      SELECT node, min(label) AS component FROM walk GROUP BY 1
    ), full_cc AS (
      SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component,
             d.n_chars
      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
    ), best AS (
      SELECT component, doc_id AS canonical,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM full_cc
    )
    SELECT f.doc_id, f.component,
           b.canonical AS canonical_doc_id,
           CAST(CASE WHEN f.doc_id = b.canonical THEN 1 ELSE 0 END AS BIGINT)
             AS kept
    FROM full_cc f
    JOIN best b ON f.component = b.component AND b.rn = 1
    """,
)
def doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup lifecycle's last step: pairs → clusters → keep ONE doc per
    cluster (highest n_chars, doc_id as tie-break) and mark the rest drops.

    Canonical selection is a single ``max_by`` aggregate over a struct key —
    no per-component window sort. Components are dup cliques (tiny by
    construction), so the component-keyed shuffle is uniform; the n² risk
    lives in pair generation, which is the df-capped inverted-index join."""
    docs = _docs(spark, sf_dir)
    cc = _dup_components(spark, sf_dir)
    full_cc = docs.join(cc, docs.doc_id == cc.node, "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "n_chars",
    )
    best = full_cc.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("inv"))
        ).alias("canonical_doc_id")
    )
    return full_cc.join(best, "component").select(
        "doc_id",
        "component",
        "canonical_doc_id",
        F.when(F.col("doc_id") == F.col("canonical_doc_id"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("kept"),
    )


# ---------------------------------------------- two-signal dedup scoring ----
@register(
    "doc_semantic_dedup_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), cand AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
    ), v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
    ), n AS (
      SELECT vec_id, vecd,
             sqrt(list_sum(list_transform(vecd, x -> x * x))) AS norm
      FROM v
    )
    SELECT cand.doc_a, cand.doc_b, cand.jaccard,
           ROUND(list_sum(list_transform(range(1, 65),
                   i -> a.vecd[i] * b.vecd[i])) / (a.norm * b.norm), 6)
             AS cosine
    FROM cand
    JOIN n a ON cand.doc_a = a.vec_id
    JOIN n b ON cand.doc_b = b.vec_id
    """,
)
def doc_semantic_dedup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-signal near-dup scoring: trigram-Jaccard candidate pairs
    annotated with the documents' embedding cosine (doc_id ⋈ vec_id).

    The production dedup pattern: a cheap lexical candidate stage bounds
    the pair count, the semantic signal rides along for the downstream
    keep/drop policy. Scale shape: candidate generation is the df-capped
    inverted-index join; the embedding join then touches only candidate
    ids — two hash joins proportional to |candidates|, never n². (No
    cosine cutoff here: thresholding is policy, and this corpus's
    synthetic embeddings are independent of its text dups.)"""
    from data_warehouse_flink_spark.functions.similarity import (
        cosine_rounded,
        with_norm,
    )

    cands = _candidate_pairs(spark, sf_dir)
    vecs = with_norm(_embs(spark, sf_dir)).select("vec_id", "vecd", "norm")
    a = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("vecd").alias("va"),
        F.col("norm").alias("na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("vecd").alias("vb"),
        F.col("norm").alias("nb"),
    )
    return (
        cands.join(a, cands.doc_a == a.vec_a)
        .join(b, cands.doc_b == b.vec_b)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            cosine_rounded("va", "vb", "na", "nb").alias("cosine"),
        )
    )


# ------------------------------------------- cross-doc span dedup (C4) ----
@register(
    "doc_span_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(t[i*8+1 : i*8+8], ' ') AS span
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, (len(t) + 7) // 8 - 1)) AS i) s
    ), flagged AS (
      SELECT doc_id, span_idx, span,
             row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, span_idx) = 1 AS keep
      FROM spans
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_spans,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_spans_kept,
           coalesce(string_agg(CASE WHEN keep THEN span END, ' '
                               ORDER BY span_idx), '') AS dedup_text
    FROM flagged GROUP BY 1
    """,
)
def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document repeated-span removal: cut each document
    into non-overlapping 8-token spans, keep only each span's first global
    occurrence (ordered by doc_id, span position), re-join survivors in
    document order. One explode + one span-keyed window shuffle + one
    doc-keyed reassembly — linear, no self-join (see
    functions/dedup.py::span_dedup for the scale notes)."""
    from data_warehouse_flink_spark.functions.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir))


@register("doc_span_dedup_fast", oracle=None)
def doc_span_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape span dedup: identical plan to the `doc_span_dedup`
    gate but the first-occurrence window shuffles on ``xxhash64(span)``
    (8-byte keys) instead of the 8-token span string. Rows-only entry
    (xxhash64 has no DuckDB counterpart); pinned locally to byte-identical
    output vs the string-keyed gate on sf0.01 (tests/test_round6_ops.py)."""
    from data_warehouse_flink_spark.functions.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir), hash_key=True)


# --------------------------------------- frozen-weight quality classifier ----
@register(
    "doc_quality_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             ((count(*) - count(DISTINCT gram)) * 1000000 // count(*))::BIGINT
               AS dup_ppm
      FROM (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
            FROM toks CROSS JOIN LATERAL (
              SELECT unnest(generate_series(1, len(t) - 2)) AS i) s)
      GROUP BY doc_id
    ), feats AS (
      SELECT toks.doc_id,
             len(t)::BIGINT AS n_tokens,
             (len(list_filter(t, x -> x IN
                ('the','a','of','and','to','in','is','on','for','it')))
              * 1000000 // len(t))::BIGINT AS stop_ppm,
             coalesce(grams.dup_ppm, 0)::BIGINT AS dup_ppm,
             ((length(text) - (len(t) - 1)) * 100 // len(t))::BIGINT
               AS avg_len_centi
      FROM toks LEFT JOIN grams ON toks.doc_id = grams.doc_id
    )
    SELECT doc_id, n_tokens, stop_ppm, dup_ppm, avg_len_centi,
           (-25000000 + 400000 * n_tokens + 100 * stop_ppm
            - 300 * dup_ppm
            - 30000 * abs(avg_len_centi - 450))::BIGINT AS quality_score,
           (-25000000 + 400000 * n_tokens + 100 * stop_ppm
            - 300 * dup_ppm
            - 30000 * abs(avg_len_centi - 450)) >= 0 AS keep
    FROM feats
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight linear quality filter (fastText-style, trained offline,
    weights frozen as literals — functions/text.py::QUALITY_WEIGHTS).
    Integer-exact features and logit; decision = logit >= 0. Zero-shuffle
    scan-linear projection; at 100 TB this is the same single pass as any
    other per-document featurizer."""
    from data_warehouse_flink_spark.functions.text import linear_quality_score

    return linear_quality_score(_docs(spark, sf_dir))


# ------------------------------------------------- count-min sketch ----
@register(
    "token_count_min_sketch",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), exact AS (
      SELECT token, count(*)::BIGINT AS exact_count FROM tok GROUP BY 1
    ), top AS (
      SELECT token, exact_count FROM (
        SELECT token, exact_count,
               row_number() OVER (ORDER BY exact_count DESC, token) AS rn
        FROM exact) WHERE rn <= 50
    ), cells AS (
      SELECT j AS row,
             ('0x' || substr(md5(token || '#' || j), 1, 8))::BIGINT % 32
               AS bucket,
             count(*)::BIGINT AS cell_count
      FROM tok CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, 3)) AS j) s
      GROUP BY 1, 2
    ), probes AS (
      SELECT token, j AS row,
             ('0x' || substr(md5(token || '#' || j), 1, 8))::BIGINT % 32
               AS bucket
      FROM top CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, 3)) AS j) s
    )
    SELECT top.token, top.exact_count,
           min(cells.cell_count)::BIGINT AS cm_estimate,
           (min(cells.cell_count) - top.exact_count)::BIGINT AS overestimate
    FROM probes
    JOIN cells USING (row, bucket)
    JOIN top ON probes.token = top.token
    GROUP BY 1, 2
    """,
)
def token_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic count-min sketch (d=4 x w=32, md5-seeded hash rows)
    over the corpus token stream, reported for the exact top-50 tokens:
    exact count, CM point estimate (min over the 4 cells), and the
    overestimate (always >= 0 — the CM guarantee; w=32 is deliberately
    narrow so collisions and their one-sided error are visible). The cell
    grid builds with map-side combine into 128 counters — per-partition
    sketches merge by addition, the property that makes this the
    fixed-memory frequency structure at 100 TB (functions/sketches.py).
    Plan shape: ONE corpus scan builds the exact frequency table
    (materialized once); the cell grid then reaggregates the
    vocabulary-sized counts (a cell is the sum of its tokens' counts —
    identical to sketching the raw stream), and the exact top-50 goes
    through the lossless per-partition top-N reduction, so the global rank
    never sees more than 50 rows per task.
    """
    from data_warehouse_flink_spark.functions.sketches import (
        cm_estimate_for,
        cm_sketch_cells_from_counts,
    )
    from data_warehouse_flink_spark.operators.topn import (
        top_n_per_group_partial,
    )

    tok = _docs(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    exact = (
        tok.groupBy("token")
        .agg(F.count("*").cast("long").alias("exact_count"))
        .localCheckpoint(eager=True)
    )
    cells = cm_sketch_cells_from_counts(exact, width=32)
    top = (
        top_n_per_group_partial(
            exact.withColumn("_g", F.lit(0)),
            partition_cols=["_g"],
            order_col="exact_count",
            n=50,
            tiebreak_cols=["token"],
        )
        .filter(F.col("rn") <= 50)
        .drop("_g", "rn")
    )
    est = cm_estimate_for(top.select("token"), cells, width=32)
    return top.join(est, "token").select(
        "token",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count"))
        .cast("long")
        .alias("overestimate"),
    )


# -------------------------------------------- product quantization ANN ----
def _knn_pq_oracle(k: int = 5) -> str:
    """Generated oracle: the frozen PQ codebooks (trained offline by
    tools/train_pq_codebooks.py, committed as literals) are embedded in BOTH
    engines. Per-subspace squared distances round to 6 decimals before the
    argmin (first-index tie-break) for encoding and before the ADC sum, so
    codes and distances are engine-exact — the same graduation discipline
    as the IVF centroids and LSH hyperplanes."""
    from data_warehouse_flink_spark.functions.pq_codebooks import (
        CODEBOOKS,
        SUB_DIM,
    )

    def dist_list(m: int, book) -> str:
        off = m * SUB_DIM
        entries = []
        for cw in book:
            terms = " + ".join(
                f"(vecd[{off + i + 1}] - {cw[i]!r})"
                f" * (vecd[{off + i + 1}] - {cw[i]!r})"
                for i in range(SUB_DIM)
            )
            entries.append(f"ROUND({terms}, 6)")
        return "[" + ", ".join(entries) + "]"

    dl_cols = ",\n             ".join(
        f"{dist_list(m, book)} AS dl{m}" for m, book in enumerate(CODEBOOKS)
    )
    code_cols = ", ".join(
        f"list_position(dl{m}, list_min(dl{m})) - 1 AS code{m}"
        for m in range(len(CODEBOOKS))
    )
    adc = " + ".join(
        f"q.dl{m}[e.code{m} + 1]" for m in range(len(CODEBOOKS))
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
    ), dls AS (
      SELECT vec_id,
             {dl_cols}
      FROM v
    ), enc AS (
      SELECT vec_id, {code_cols} FROM dls
    ), pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND({adc}, 6) AS adc_dist
      FROM dls q CROSS JOIN enc e
      WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
             AS BIGINT) AS rn
    FROM pairs
    QUALIFY rn <= {k}
    """


def _pq_frozen_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-encoded corpus under the FROZEN codebooks (pq_encode
    output), materialized ONCE per (session, sf_dir) and shared by
    knn_pq and knn_ivf_pq — the corpus encode was each invocation's
    dominant stage and ran fresh per call in both gates (the
    `_minhash_sigs` treatment applied to the last per-call corpus-sized
    recompute in the ANN family)."""
    from data_warehouse_flink_spark.functions.similarity import pq_encode

    return _cached(
        spark,
        sf_dir,
        "pq_codes_frozen",
        lambda: pq_encode(_embs_wide(spark, sf_dir)),
    )


@register("knn_pq", oracle=_knn_pq_oracle())
def knn_pq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors by product quantization + ADC scan.

    The fourth ANN tier: brute force (exact) → LSH (hash buckets) → IVF
    (cell restriction) → PQ (compressed-domain scan). The corpus is stored
    as 8 codebook indices per vector (8 bytes, not 64 floats); queries
    precompute per-subspace lookup tables and every candidate distance is
    8 lookups + adds. Oracle-checked end-to-end: both engines embed the
    same frozen codebooks (see `_knn_pq_oracle`).
    """
    from data_warehouse_flink_spark.functions.similarity import knn_pq

    embs = _embs_wide(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    return knn_pq(
        embs, queries, k=5, codes=_pq_frozen_codes(spark, sf_dir)
    )


# ------------------------------ DSIR-style importance weights (resampling) ----
_DSIR_BUCKETS = 1024


@register(
    "doc_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t, string_split(text, ' ') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, is_t, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT doc_id, is_t, t[i] || ' ' || t[i + 1] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
      WHERE len(t) >= 2
    ), db AS (
      SELECT doc_id, is_t,
             ('0x' || substr(md5(gram), 1, 7))::BIGINT % {_DSIR_BUCKETS}
               AS bucket,
             count(*)::BIGINT AS c
      FROM grams GROUP BY 1, 2, 3
    ), bstats AS (
      SELECT bucket, sum(c)::BIGINT AS rawc,
             sum(CASE WHEN is_t THEN c ELSE 0 END)::BIGINT AS tgtc
      FROM db GROUP BY 1
    ), tot AS (
      SELECT sum(c)::BIGINT AS rawn,
             sum(CASE WHEN is_t THEN c ELSE 0 END)::BIGINT AS tgtn
      FROM db
    ), lr AS (
      SELECT bucket,
             CAST(round(ln(
               (CAST(tgtc + 1 AS DOUBLE) / CAST(tgtn + {_DSIR_BUCKETS} AS DOUBLE))
               / (CAST(rawc + 1 AS DOUBLE) / CAST(rawn + {_DSIR_BUCKETS} AS DOUBLE))
             ) * 1000000.0, 0) AS BIGINT) AS lr_micro
      FROM bstats CROSS JOIN tot
    )
    SELECT doc_id, sum(c)::BIGINT AS n_grams,
           sum(c * lr_micro)::BIGINT AS weight_micro,
           sum(c * lr_micro) > 0 AS keep
    FROM db JOIN lr USING (bucket)
    GROUP BY 1
    """,
)
def doc_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for target-domain resampling
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): hashed unigram+bigram features over {_DSIR_BUCKETS} buckets,
    per-bucket smoothed log-ratio of the target distribution (here: the
    ``lang = 'en'`` slice) vs the raw corpus, per-document weight = sum of
    gram-count x log-ratio.

    Scale shape: ONE corpus scan builds the per-(doc, bucket) count table
    (localCheckpointed); the bucket distributions, the grand totals, and the
    scoring join are all derived from it. The log-ratio table is ~1k rows and
    broadcast; the only corpus-sized shuffle keys on (doc_id, bucket). The
    keep rule is the shuffle-free ``weight > 0`` (net positive target
    evidence) rather than a global rank — at 100 TB a quantile threshold from
    `approx_percentile` would replace it without changing the plan shape.

    Cross-engine exactness: buckets come from the md5-prefix integer idiom;
    the log-ratio is rounded to integer micro-nats (the ln inputs are
    identical doubles built with the same operation order in both engines),
    and every downstream sum is BIGINT.
    """
    return _dsir_weights(spark, sf_dir, bucket_hash="md5")


@register("doc_importance_weights_fast", oracle=None)
def doc_importance_weights_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape DSIR: identical plan to `doc_importance_weights` but
    buckets via `xxhash64(gram) % B` instead of the md5-prefix idiom (~1.8×
    cheaper gram stage, measured sf0.1). xxhash64 has no DuckDB counterpart,
    so this is a rows-only entry; the hash-independent invariants (same
    doc_ids, identical per-doc n_grams, same grand totals) are pinned against
    the md5 gate in tests/test_round5_ops.py."""
    return _dsir_weights(spark, sf_dir, bucket_hash="xxhash64")


def _dsir_grams(
    spark: SparkSession, sf_dir: str, bucket_hash: str
) -> DataFrame:
    """One bucketed row PER GRAM occurrence (doc_id, is_t, bucket) — the
    raw table both DSIR consumers aggregate, each with a high-reduction
    key. An earlier shape pre-aggregated to (doc_id, is_t, bucket) counts
    "so both consumers share one groupBy", but that key has ~1 bucket
    per 2 grams — a 79M-row → 40M-group aggregate with near-zero partial
    reduction that dominated the whole query (292 s of a 300 s 1M-doc
    smoke). Aggregating per consumer instead (bucket: 79M→1k; doc_id:
    79M→1M) keeps every partial agg effective.

    The token array is hoisted into a column — inlining `split(text, ' ')`
    into the gram expression re-evaluated it up to 5× per row (Catalyst's
    CollapseProject keeps the projection because the alias is non-cheap and
    multiply-referenced); hoisting measured 0.84 s → 0.54 s for this stage
    at sf0.1."""
    b = _DSIR_BUCKETS
    grams = (
        _docs_wide(spark, sf_dir)
        .withColumn("toks", F.split("text", " "))
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("is_t"),
            F.explode(
                F.expr(
                    "concat(toks, "
                    "CASE WHEN size(toks) >= 2 THEN "
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(element_at(toks, i), ' ', "
                    "element_at(toks, i + 1))) "
                    "ELSE CAST(array() AS array<string>) END)"
                )
            ).alias("gram"),
        )
    )
    if bucket_hash == "md5":
        bucket = F.expr(
            f"CAST(conv(substr(md5(gram), 1, 7), 16, 10) AS BIGINT) % {b}"
        )
    elif bucket_hash == "xxhash64":
        bucket = F.pmod(F.xxhash64("gram"), F.lit(b))
    else:
        raise ValueError(f"unknown bucket_hash {bucket_hash!r}")
    return grams.select("doc_id", "is_t", bucket.alias("bucket"))


def _dsir_weights(
    spark: SparkSession, sf_dir: str, bucket_hash: str
) -> DataFrame:
    b = _DSIR_BUCKETS
    g = _dsir_grams(spark, sf_dir, bucket_hash)
    # Two consumers of g (bucket stats, scoring) = two corpus scans. The
    # grand totals fold over bstats (1024 rows) as a GLOBAL WINDOW rather
    # than an agg+crossJoin — the crossJoin form planned a THIRD copy of
    # the whole gram subtree. History (VERDICT r14 #6): the fold was tried
    # in r14 and reverted on an sf0.1 reading (1.08 → 1.16 s) arguing the
    # duplicate 1-task scans run wall-clock-free on idle cores; re-measured
    # in r15 at BOTH tiers, the fold is a wash at sf0.1 (0.812 vs 0.820 s
    # min-of-5, same session) and 1.22x FASTER at generated sf1 (1.10 vs
    # 1.34 s) where the third scan is real I/O — so the scale-correct
    # shape wins. Deliberately NO localCheckpoint: a per-invocation eager
    # checkpoint leaks a cached block per call, and across a long
    # bench/driver session that heap pressure cost far more than the
    # extra scan (13.7 s vs ~1.5 s at sf0.1, measured in r14).
    bstats = g.groupBy("bucket").agg(
        F.count("*").alias("rawc"),
        F.sum(F.when(F.col("is_t"), F.lit(1)).otherwise(F.lit(0))).alias(
            "tgtc"
        ),
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    lr = bstats.select(
        "bucket",
        "rawc",
        "tgtc",
        F.sum("rawc").over(w_all).alias("rawn"),
        F.sum("tgtc").over(w_all).alias("tgtn"),
    ).select(
        "bucket",
        F.expr(
            f"CAST(round(ln("
            f"(CAST(tgtc + 1 AS DOUBLE) / CAST(tgtn + {b} AS DOUBLE))"
            f" / (CAST(rawc + 1 AS DOUBLE) / CAST(rawn + {b} AS DOUBLE))"
            f") * 1000000.0, 0) AS BIGINT)"
        ).alias("lr_micro"),
    )
    return (
        g.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("lr_micro").alias("weight_micro"),
        )
        .select(
            "doc_id",
            "n_grams",
            "weight_micro",
            (F.col("weight_micro") > 0).alias("keep"),
        )
    )


# ----------------------------------- BPE encoding with frozen merge ranks ----
def _bpe_merged_sql(base: str) -> str:
    """Nested `replace` chain applying the frozen merges in rank order.

    A merge (a, b) is the global leftmost-non-overlapping replacement
    ``' a b ' -> ' ab '`` over the space-delimited char representation —
    `replace` has identical semantics in Spark and DuckDB, so the chain is
    engine-exact by construction (each caller builds its own dialect's
    char-spacing regex for `base` before calling this)."""
    from data_warehouse_flink_spark.functions.bpe_merges import MERGES

    expr = base
    for a, b in MERGES:
        expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return expr


def _bpe_encode_oracle() -> str:
    base = (
        "' ' || array_to_string(list_transform(string_split(text, ' '), "
        "w -> regexp_replace(w, '(.)', '\\1 ', 'g')), '| ')"
    )
    merged = _bpe_merged_sql(base)
    return f"""
    WITH enc AS (
      SELECT doc_id,
             len(string_split(text, ' '))::BIGINT AS n_words,
             list_filter(string_split(trim({merged}), ' '),
                         t -> t <> '|') AS sub
      FROM documents
    )
    SELECT doc_id, n_words,
           len(sub)::BIGINT AS n_subwords,
           array_to_string(sub[1:12], ' ') AS subword_preview
    FROM enc
    """


@register("doc_bpe_encode", oracle=_bpe_encode_oracle())
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True BPE subword encoding with a frozen merge table (Sennrich et al.
    2016) — the real-tokenizer upgrade over `doc_bpe_tokens`' regex
    pre-tokenizer count.

    The merge ranks are trained ONCE offline (tools/train_bpe.py, the
    IVF/PQ freeze discipline) and applied here as a rank-ordered chain of
    literal string replacements over the char-spaced representation
    (``' p a r t | ... '``; ``|`` is the word boundary merges cannot
    cross). Encoding is therefore a zero-shuffle, scan-linear JVM
    projection — whole-stage-codegen'd `replace` calls, no UDF, no state —
    exactly what a 100 TB tokenize pass needs. The generated DuckDB oracle
    embeds the same merges, so subword splits are engine-exact.
    """
    base = (
        "concat(' ', array_join(transform(split(text, ' '), "
        "w -> regexp_replace(w, '(.)', '$1 ')), '| '))"
    )
    merged = _bpe_merged_sql(base)
    return _docs_wide(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_words"),
        F.expr(
            f"filter(split(trim({merged}), ' '), t -> t != '|')"
        ).alias("sub"),
    ).select(
        "doc_id",
        "n_words",
        F.expr("CAST(size(sub) AS BIGINT)").alias("n_subwords"),
        F.expr("array_join(slice(sub, 1, 12), ' ')").alias("subword_preview"),
    )


# --------------------------------- scalar (int8) embedding quantization ----
@register(
    "embedding_sq8",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
    ), dims AS (
      SELECT i AS d, min(vecd[i]) AS lo, max(vecd[i]) AS hi
      FROM v CROSS JOIN LATERAL (
        SELECT unnest(range(1, len(vecd) + 1)) AS i) s
      GROUP BY 1
    ), stats AS (
      SELECT list_sort(list(struct_pack(d := d, lo := lo, hi := hi))) AS st
      FROM dims
    ), coded AS (
      SELECT vec_id, vecd, st,
             list_transform(range(1, len(vecd) + 1), i -> CASE
               WHEN st[i].hi = st[i].lo THEN 0
               ELSE CAST(least(greatest(floor(
                 (vecd[i] - st[i].lo) / (st[i].hi - st[i].lo) * 255.0 + 0.5),
                 0.0), 255.0) AS BIGINT) END) AS codes
      FROM v CROSS JOIN stats
    )
    SELECT vec_id,
           list_sum(codes)::BIGINT AS code_checksum,
           array_to_string(list_transform(codes[1:8],
             c -> CAST(c AS VARCHAR)), ' ') AS codes_preview,
           CAST(round(list_sum(list_transform(range(1, len(vecd) + 1),
             i -> (vecd[i] - (st[i].lo + CAST(codes[i] AS DOUBLE) / 255.0
                    * (st[i].hi - st[i].lo)))
                * (vecd[i] - (st[i].lo + CAST(codes[i] AS DOUBLE) / 255.0
                    * (st[i].hi - st[i].lo))))) * 1000000.0, 0) AS BIGINT)
             AS err_micro
    FROM coded
    """,
)
def embedding_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization of the embedding column — the fifth
    vector-compression tier (brute force → LSH → IVF → PQ → SQ8). See
    `functions/similarity.py::sq8_encode` for the two-pass plan shape
    (tiny per-dim stats aggregate, broadcast, scan-linear encode)."""
    from data_warehouse_flink_spark.functions.similarity import sq8_encode

    return sq8_encode(_embs_wide(spark, sf_dir))


# --------------------------------- hybrid retrieval: reciprocal-rank fusion ----
def _knn_rrf_oracle() -> str:
    """Generated oracle: the LSH and IVF oracle queries verbatim as CTE
    bodies, fused by integer-exact reciprocal rank (1e6 DIV (60 + rank),
    summed per candidate — no floats anywhere in the fusion)."""
    lsh = _knn_lsh_oracle()
    ivf = _knn_ivf_oracle()
    return f"""
    WITH lsh_hits AS ({lsh}),
    ivf_hits AS ({ivf}),
    pooled AS (
      SELECT query_id, neighbor_id, rn FROM lsh_hits
      UNION ALL
      SELECT query_id, neighbor_id, rn FROM ivf_hits
    ), fused AS (
      SELECT query_id, neighbor_id,
             sum(1000000 // (60 + rn))::BIGINT AS rrf_micro
      FROM pooled GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rrf_micro,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY rrf_micro DESC, neighbor_id) AS BIGINT) AS rn
    FROM fused
    QUALIFY rn <= 5
    """


@register("knn_rrf", oracle=_knn_rrf_oracle())
def knn_rrf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the LSH-tier and IVF-tier candidate lists by
    reciprocal-rank fusion (Cormack et al. 2009), the standard way modern
    retrieval stacks combine heterogeneous rankers. Candidates surfaced by
    both tiers rise; each tier covers the other's hash/cell blind spots.

    The fusion is integer-exact (1e6 DIV (60 + rank), summed) — no float
    scores cross the tiers, so the whole pipeline stays value-exact against
    the composed oracle. Cost is the two tier queries (each bucket/cell
    restricted) plus a per-query rank over at most 2k pooled rows —
    scale-wise it inherits the tiers' shapes, adding nothing corpus-sized.
    """
    from pyspark.sql import Window
    from data_warehouse_flink_spark.functions.similarity import (
        knn_ivf,
        knn_lsh,
    )

    embs = _embs_wide(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    pooled = (
        knn_lsh(embs, queries, k=5, bucketed=_lsh_bucketed(spark, sf_dir))
        .select("query_id", "neighbor_id", "rn")
        .unionAll(
            knn_ivf(
                embs, queries, k=5, assigned=_ivf_assigned(spark, sf_dir)
            ).select("query_id", "neighbor_id", "rn")
        )
    )
    fused = pooled.groupBy("query_id", "neighbor_id").agg(
        F.expr("CAST(sum(1000000 DIV (60 + rn)) AS BIGINT)").alias(
            "rrf_micro"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("neighbor_id")
    )
    return fused.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).filter(F.col("rn") <= 5)


# ------------------------- feature-hashing text embeddings + text-to-text kNN ----
_HEMB_DIMS = 64
_HEMB_BUCKETS = 256

_HEMB_V_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), bucketed AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 7))::BIGINT % {_HEMB_BUCKETS}
               AS bucket,
             count(*)::BIGINT AS cnt
      FROM toks GROUP BY 1, 2
    ), signs AS (
      SELECT d.dim, b.bucket,
             CASE WHEN ('0x' || substr(md5(d.dim::VARCHAR || ':'
                 || b.bucket::VARCHAR), 1, 1))::BIGINT % 2 = 0
               THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(range(0, {_HEMB_DIMS})) AS dim) d
      CROSS JOIN (SELECT unnest(range(0, {_HEMB_BUCKETS})) AS bucket) b
    ), v AS (
      SELECT doc_id, dim, sum(cnt * s)::BIGINT AS v
      FROM bucketed JOIN signs USING (bucket) GROUP BY 1, 2
    )"""


def _hash_emb_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dim, v): the feature-hashing ("hashing trick") embedding in
    long form — token counts hashed into buckets, projected by a seeded
    Rademacher (+/-1) matrix that BOTH engines derive from md5 parity, so
    every coordinate is an exact BIGINT. The projection matrix is computed
    data (a 64x256 cross join), not literal expression trees (the PQ
    lesson). Cached per (session, sf): the embedder feeds both registered
    queries."""
    b, d = _HEMB_BUCKETS, _HEMB_DIMS

    def build() -> DataFrame:
        docs = _docs_wide(spark, sf_dir)
        toks = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        bucketed = (
            toks.select(
                "doc_id",
                F.expr(
                    f"CAST(conv(substr(md5(tok), 1, 7), 16, 10) AS BIGINT)"
                    f" % {b}"
                ).alias("bucket"),
            )
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("cnt"))
        )
        signs = (
            spark.range(d)
            .selectExpr("id AS dim")
            .crossJoin(spark.range(b).selectExpr("id AS bucket"))
            .selectExpr(
                "dim",
                "bucket",
                "CASE WHEN CAST(conv(substr(md5(concat(CAST(dim AS STRING),"
                " ':', CAST(bucket AS STRING))), 1, 1), 16, 10) AS BIGINT)"
                " % 2 = 0 THEN 1L ELSE -1L END AS s",
            )
        )
        return (
            bucketed.join(F.broadcast(signs), "bucket")
            .groupBy("doc_id", "dim")
            .agg(F.sum(F.col("cnt") * F.col("s")).alias("v"))
        )

    return _cached(spark, sf_dir, "hash_emb_v", build)


@register(
    "doc_hash_embedding",
    oracle=f"""
    WITH {_HEMB_V_SQL}
    SELECT doc_id,
           sum(v * v)::BIGINT AS norm2,
           {", ".join(
               f"sum(CASE WHEN dim = {k} THEN v ELSE 0 END)::BIGINT AS d{k}"
               for k in range(8)
           )}
    FROM v GROUP BY 1
    """,
)
def doc_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text -> embedding without a model: the feature-hashing trick
    (Weinberger et al. 2009). Token counts hash into {_HEMB_BUCKETS}
    buckets and project through a seeded +/-1 matrix to {_HEMB_DIMS}
    integer coordinates — the bridge from the documents table into the
    similarity stack when no learned embedding exists.

    Everything is BIGINT end-to-end (counts x signs), so the embedding is
    value-exact across engines with no float discipline needed. Scale
    shape: one corpus scan -> (doc, bucket) counts (bounded by tokens),
    one broadcast of the 16k-row projection matrix, two keyed aggregations.
    Emits the squared norm plus the first 8 coordinates.
    """
    v = _hash_emb_long(spark, sf_dir)
    return v.groupBy("doc_id").agg(
        F.sum(F.col("v") * F.col("v")).alias("norm2"),
        *[
            F.sum(F.when(F.col("dim") == k, F.col("v")).otherwise(0)).alias(
                f"d{k}"
            )
            for k in range(8)
        ],
    )


@register(
    "doc_text_knn",
    oracle=f"""
    WITH {_HEMB_V_SQL}, norms AS (
      SELECT doc_id, sum(v * v)::BIGINT AS n2 FROM v GROUP BY 1
    ), dots AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             sum(q.v * c.v)::BIGINT AS dot
      FROM v q JOIN v c USING (dim)
      WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT d.query_id, d.neighbor_id,
             round(CAST(d.dot AS DOUBLE)
               / sqrt(CAST(qn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)), 6)
               AS cosine
      FROM dots d
      JOIN norms qn ON qn.doc_id = d.query_id
      JOIN norms cn ON cn.doc_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
             AS BIGINT) AS rn
    FROM scored QUALIFY rn <= 5
    """,
)
def doc_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-text top-5 neighbors over the hash embeddings: integer dot
    products (broadcast query side joined on dim), cosine from exact
    BIGINT norms rounded before the rank — ANN over raw documents with no
    model and no float drift. Composes `doc_hash_embedding`'s cached
    long-form table; cost beyond it is queries x corpus x dims integer
    multiplies, the brute-force baseline of this text tier."""
    from pyspark.sql import Window

    v = _hash_emb_long(spark, sf_dir)
    norms = v.groupBy("doc_id").agg(
        F.sum(F.col("v") * F.col("v")).alias("n2")
    )
    qv = v.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "dim", F.col("v").alias("qv")
    )
    dots = (
        v.join(F.broadcast(qv), "dim")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("neighbor_id"))
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
    )
    scored = (
        dots.join(
            F.broadcast(
                norms.select(
                    F.col("doc_id").alias("query_id"),
                    F.col("n2").alias("qn2"),
                )
            ),
            "query_id",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("neighbor_id"),
                F.col("n2").alias("cn2"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "round(CAST(dot AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE)"
                " * CAST(cn2 AS DOUBLE)), 6)"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).filter(F.col("rn") <= 5)


# ----------------------- end-to-end modern curation pipeline (composed) ----
def _curation_v2_oracle() -> str:
    """Composed oracle: the registered quality-classifier and DSIR oracles
    verbatim as subqueries, joined into the stage funnel. Nested WITHs are
    subquery-scoped, so their internal CTE names cannot collide."""
    from data_warehouse_flink_spark.registry import _REGISTRY

    quality = _REGISTRY["doc_quality_classifier"].oracle
    dsir = _REGISTRY["doc_importance_weights"].oracle
    return f"""
    WITH q AS (
      SELECT doc_id, keep AS q_keep FROM ({quality}) _q
    ), imp AS (
      SELECT doc_id, keep AS imp_keep FROM ({dsir}) _i
    ), base AS (
      SELECT d.doc_id, d.source, md5(d.text) AS h, q.q_keep, imp.imp_keep
      FROM documents d JOIN q USING (doc_id) JOIN imp USING (doc_id)
    ), flagged AS (
      SELECT source, q_keep, imp_keep, doc_id,
             q_keep AND doc_id = min(CASE WHEN q_keep THEN doc_id END)
               OVER (PARTITION BY h) AS d_keep
      FROM base
    )
    SELECT source,
           count(*)::BIGINT AS n_total,
           sum(CASE WHEN q_keep THEN 1 ELSE 0 END)::BIGINT AS n_quality,
           sum(CASE WHEN d_keep THEN 1 ELSE 0 END)::BIGINT AS n_dedup,
           sum(CASE WHEN d_keep AND imp_keep THEN 1 ELSE 0 END)::BIGINT
             AS n_final
    FROM flagged GROUP BY 1
    """


@register("corpus_curation_v2", oracle=_curation_v2_oracle())
def corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern curation pipeline end-to-end, as ONE composed query:
    frozen-weight quality classification → exact dedup among survivors
    (min-doc-id canonical per content hash) → DSIR importance keep —
    reported as a per-source retention funnel (total → quality → dedup →
    final), the shape a data-governance dashboard consumes.

    Composition is the point: every stage is an already-oracle-checked
    registered operator, and the composed oracle embeds those oracles
    verbatim as subqueries, so the pipeline's correctness follows the
    stages'. Scale shape: the classifier is scan-linear, dedup is one
    content-hash window, the DSIR side is its own two-scan shape; nothing
    new shuffles.

    Testdata note: the shipped corpus plants NEAR-duplicates (the
    Jaccard/MinHash family's territory — `doc_dedup_keep_best` holds the
    canonical-selection contract there); byte-exact duplicates only appear
    from sf0.1 up, so at the oracle tiers the dedup stage passes everything
    through — verified, not assumed, by the composed oracle.
    """
    from pyspark.sql import Window

    from data_warehouse_flink_spark.functions.text import (
        linear_quality_score,
    )

    docs = _docs(spark, sf_dir)
    # r15 (guide §2.4, the ccnet_funnel passthrough lesson): the quality
    # classifier is a pure per-row projection, so joining it back on
    # doc_id was an identity join over a second corpus scan — the
    # `passthrough` hook computes q_keep and the content hash in the SAME
    # scan. The DSIR keep stays a join: its weights are corpus-level, not
    # per-row.
    base = (
        linear_quality_score(docs, passthrough=("source", "text"))
        .select(
            "doc_id",
            "source",
            F.md5("text").alias("h"),
            F.col("keep").alias("q_keep"),
        )
        .join(
            doc_importance_weights(spark, sf_dir).select(
                "doc_id", F.col("keep").alias("imp_keep")
            ),
            "doc_id",
        )
    )
    w = Window.partitionBy("h")
    flagged = base.withColumn(
        "d_keep",
        F.col("q_keep")
        & (
            F.col("doc_id")
            == F.min(
                F.when(F.col("q_keep"), F.col("doc_id"))
            ).over(w)
        ),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("q_keep").cast("long")).alias("n_quality"),
        F.sum(F.col("d_keep").cast("long")).alias("n_dedup"),
        F.sum(
            (F.col("d_keep") & F.col("imp_keep")).cast("long")
        ).alias("n_final"),
    )


# ------------------------- dedup threshold sweep (policy dashboard) ----
_JACCARD_PAIRS_CTE = """
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
    )
"""

_SWEEP_THRESHOLDS = ("0.3", "0.5", "0.7", "0.9")


@register(
    "doc_dedup_sweep",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTE},
    th AS (
      SELECT unnest(['0.3', '0.5', '0.7', '0.9']) AS threshold
    ), hits AS (
      SELECT th.threshold, p.doc_a, p.doc_b
      FROM th JOIN pairs p ON p.jaccard >= CAST(th.threshold AS DOUBLE)
    ), agg AS (
      SELECT threshold,
             count(*)::BIGINT AS n_pairs,
             count(DISTINCT doc_b)::BIGINT AS n_docs_dropped
      FROM hits GROUP BY 1
    )
    SELECT th.threshold,
           coalesce(agg.n_pairs, 0)::BIGINT AS n_pairs,
           coalesce(agg.n_docs_dropped, 0)::BIGINT AS n_docs_dropped,
           ((SELECT count(*) FROM documents)
            - coalesce(agg.n_docs_dropped, 0))::BIGINT AS n_docs_kept
    FROM th LEFT JOIN agg USING (threshold)
    """,
)
def doc_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-policy threshold sweep: for each Jaccard cutoff, how many
    near-dup pairs fire and how much corpus a greedy keep-smallest-id
    policy retains — the dashboard a data-curation team reads before
    committing to a dedup threshold (the retention/contamination knob of
    Lee et al. 2022's dedup studies).

    One pass: the shared candidate-pair table (loosest threshold, cached
    family-wide) is crossed with the 4-row threshold literals and
    re-aggregated — no per-threshold rescan of the corpus. The drop rule
    (a doc is dropped iff it pairs with ANY smaller doc_id at >= t) is the
    standard greedy policy and needs no per-threshold connected
    components. Thresholds travel as STRINGS so the grading hash never
    compares floats.
    """
    pairs = _candidate_pairs(spark, sf_dir)
    th = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold string"
    )
    hits = pairs.join(
        F.broadcast(th),
        F.col("jaccard") >= F.col("threshold").cast("double"),
    )
    agg = hits.groupBy("threshold").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_b").alias("n_docs_dropped"),
    )
    total = _docs(spark, sf_dir).agg(F.count("*").alias("n_total"))
    return (
        th.join(agg, "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_dropped", F.lit(0)).alias("n_docs_dropped"),
            (
                F.col("n_total") - F.coalesce("n_docs_dropped", F.lit(0))
            ).alias("n_docs_kept"),
        )
    )


# --------------------------------------------- URL canonicalization dedup ----
# The documents table carries no URL column, so the page URL is DERIVED
# deterministically from (doc_id, source, lang) with deliberately messy
# casing / www / trailing-slash / query / fragment variation — identical
# expressions in both engines, i.e. the frozen-literals-as-data idiom. The
# operator under test is `canonicalize_url` + the group-by, not the
# synthesis.
_URL_SYNTH_SPARK = (
    "concat('HTTPS://', CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END, "
    "source, CAST(doc_id % 7 AS STRING), '.COM/', lang, '/page-', "
    "CAST(doc_id % 97 AS STRING), "
    "CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 4 = 0 THEN concat('?utm_source=feed&ref=', "
    "CAST(doc_id AS STRING)) ELSE '' END, "
    "CASE WHEN doc_id % 5 = 0 THEN concat('#sec-', "
    "CAST(doc_id AS STRING)) ELSE '' END)"
)
_URL_SYNTH_DUCK = (
    "'HTTPS://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END || "
    "source || CAST(doc_id % 7 AS VARCHAR) || '.COM/' || lang || '/page-' "
    "|| CAST(doc_id % 97 AS VARCHAR) "
    "|| CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END "
    "|| CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&ref=' || "
    "CAST(doc_id AS VARCHAR) ELSE '' END "
    "|| CASE WHEN doc_id % 5 = 0 THEN '#sec-' || "
    "CAST(doc_id AS VARCHAR) ELSE '' END"
)


@register(
    "doc_url_dedup",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id, {_URL_SYNTH_DUCK} AS url FROM documents
    ), strip AS (
      SELECT doc_id, regexp_replace(url, '[?#].*', '') AS no_q FROM urls
    ), parts AS (
      SELECT doc_id, no_q,
             regexp_extract(no_q,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+') AS head
      FROM strip
    ), canon AS (
      SELECT doc_id,
             regexp_replace(lower(head), '://www\\.', '://')
             || regexp_replace(substr(no_q, length(head) + 1), '/$', '')
               AS canonical_url
      FROM parts
    )
    SELECT canonical_url,
           min(doc_id)::BIGINT AS canonical_doc_id,
           count(*)::BIGINT AS n_docs
    FROM canon GROUP BY 1
    """,
)
def doc_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL dedup: canonicalize each page URL (case-fold the
    host, drop www/query/fragment/trailing slash) and keep the first doc
    per canonical URL — the cheapest, highest-precision dedup tier a web
    corpus runs BEFORE any content hashing (WET-file processing order in
    CCNet / RefinedWeb). One hash-groupBy; the normalization itself is
    zero-shuffle regex projection.

    Key treatment (VERDICT r6 #4): unlike the jaccard/substring swaps,
    the canonical URL is OUTPUT-BEARING — it crosses the shuffle as a
    value even when the groupBy key is xxhash64(url), so the hash arm
    saves only key-compare/sort width, not row bytes. Measured at 1M
    near-unique URLs that is still 1.8× (0.5 s vs 0.9 s interleaved,
    SCALING.md round-7 — long-key hash-map probes beat string keys even
    with the string riding along), so the hash key IS the default;
    `_url_dedup_frame(hash_key=False)` keeps the string arm for the
    byte-identical pin (tests/test_round7_ops.py) and re-measurement.
    """
    return _url_dedup_frame(spark, sf_dir, hash_key=True)


def _url_dedup_frame(
    spark: SparkSession, sf_dir: str, hash_key: bool
) -> DataFrame:
    from data_warehouse_flink_spark.functions.text import canonicalize_url

    urls = _docs_wide(spark, sf_dir).select(
        "doc_id", F.expr(_URL_SYNTH_SPARK).alias("url")
    )
    canon = urls.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    )
    if hash_key:
        # 8-byte groupBy key; the representative string rides as a value
        # (all members of a hash group share one URL modulo 64-bit
        # collision, so min() resolves it deterministically).
        return (
            canon.groupBy(F.xxhash64("canonical_url").alias("_k"))
            .agg(
                F.min("canonical_url").alias("canonical_url"),
                F.min("doc_id").alias("canonical_doc_id"),
                F.count("*").alias("n_docs"),
            )
            .drop("_k")
        )
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_docs"),
    )


# ------------------- weighted reservoir sampling (Efraimidis–Spirakis) ----
@register(
    "doc_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             CAST(round(-ln(
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                 + 1) / 268435457.0)
             ) / CAST(n_chars AS DOUBLE) * 1000000.0, 0) AS BIGINT)
               AS key_micro
      FROM documents
    ), ranked AS (
      SELECT source, doc_id, n_chars, key_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY key_micro, doc_id) AS rn
      FROM keyed
    )
    SELECT source, doc_id, n_chars, key_micro, rn::BIGINT AS rn
    FROM ranked WHERE rn <= 50
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 50 docs per source stratum,
    weight = document length (Efraimidis–Spirakis A-ES: draw u ~ U(0,1)
    per item, keep the k smallest -ln(u)/w — equivalent to the k largest
    u^(1/w), the distributed one-pass weighted reservoir). The sampling
    the mixture stage runs when token budgets are weighted by length or
    quality rather than uniform.

    Determinism/exactness: u derives from the md5 28-bit integer idiom on
    doc_id (u = (h+1)/(2^28+1) ∈ (0,1)); the key is rounded to integer
    MICRO-units before ranking (the DSIR log-ratio discipline), ties
    break on doc_id. Micro, not nano, since round 12: at nano precision a
    1-ulp Java-vs-C ln() divergence lands within ~1e-7 of a .5 rounding
    boundary often enough to surface at volume — the sf1 parity sweep
    caught exactly one such doc in 50k (key 29420 vs 29421); micro-units
    shrink the boundary measure 1000x (~2e-10 per doc). Tradeoff: the
    coarser quantization raises key-tie mass ~1000x, and ties break on
    doc_id, so among quantization-equal keys the sample deterministically
    prefers low doc_ids — slightly less faithful to exact A-ES order,
    accepted for cross-engine determinism. Plan:
    zero-shuffle key projection + one per-source top-k window; at 1000
    executors the rank partitions by stratum.
    """
    docs = _docs_wide(spark, sf_dir)
    h = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT)"
    keyed = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(
            f"CAST(round(-ln(({h} + 1) / 268435457.0) "
            f"/ CAST(n_chars AS DOUBLE) * 1000000.0, 0) AS BIGINT)"
        ).alias("key_micro"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("key_micro", "doc_id")
    return keyed.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).filter(F.col("rn") <= 50)


# --------------------- bigram-LM perplexity buckets (CCNet head/middle/tail) ----
# Frozen bucket thresholds in micro-nats of average bigram NLL — trained
# offline on a corpus sample and frozen like QUALITY_WEIGHTS / the IVF
# centroids (CCNet freezes its Wikipedia-LM perplexity cutoffs the same
# way); chosen as the sf0.01 tertile boundaries.
_PPL_HEAD_MAX = 3_374_000
_PPL_MIDDLE_MAX = 3_398_000


@register(
    "doc_perplexity_bucket",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
    ), cu AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    cb AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
    v AS (SELECT count(DISTINCT w) AS vocab FROM (
      SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)),
    nll AS (
      SELECT bg.doc_id,
             CAST(round(-ln((cb.c2 + 1.0) / (cu.c1 + v.vocab))
                        * 1000000.0, 0) AS BIGINT) AS nll_micro
      FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
    ), agg AS (
      SELECT doc_id, sum(nll_micro)::BIGINT AS nll_sum_micro,
             count(*)::BIGINT AS n_bigrams
      FROM nll GROUP BY 1
    )
    SELECT doc_id, n_bigrams, nll_sum_micro,
           (nll_sum_micro // n_bigrams)::BIGINT AS avg_nll_micro,
           CASE WHEN nll_sum_micro // n_bigrams < {_PPL_HEAD_MAX}
                  THEN 'head'
                WHEN nll_sum_micro // n_bigrams < {_PPL_MIDDLE_MAX}
                  THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM agg
    """,
)
def doc_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity partitioning: score each document under an
    add-one-smoothed bigram LM fit on the corpus itself (p(w2|w1) =
    (c(w1,w2)+1)/(c(w1)+V)), average the negative log-likelihood per
    bigram, and bucket into head/middle/tail at FROZEN thresholds — the
    quality-partitioning step CCNet runs before choosing which slice
    trains the model.

    Plan shape: one explode to bigram occurrences, two high-reduction
    count aggregates (bigram types, first-token counts), a join of the
    occurrence stream back to its counts (shuffle keyed on the bigram —
    at web scale this is the LM-scoring join and partitions cleanly),
    and one per-doc sum. Bucketing is a scan-local CASE on exact
    integers: no global sort, no ntile, nothing that would serialize at
    100 TB. Exactness: NLL in integer micro-nats (ln rounded at 1e-6 —
    the DSIR discipline), bucket compare on exact BIGINT division.

    The per-doc bucket table is session-cached (`_cached`): the LM build
    is the expensive stage and the result is consumed by this gate AND
    `corpus_ccnet_funnel` (which fetches buckets per doc) — the
    shared-intermediate idiom every other multi-consumer stage here uses
    (round 8; the r3 `_candidate_pairs` precedent).
    """
    return _cached(
        spark,
        sf_dir,
        "perplexity_buckets",
        lambda: _perplexity_buckets_build(spark, sf_dir),
    )


def _perplexity_buckets_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir).withColumn(
        "toks", F.split("text", " ")
    ).filter(F.size("toks") >= 2)
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    cu = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    v = (
        bg.select(F.col("w1").alias("w"))
        .unionAll(bg.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("vocab"))
    )
    nll = (
        bg.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.expr(
                "CAST(round(-ln((c2 + 1.0) / (c1 + vocab)) * 1000000.0, 0)"
                " AS BIGINT)"
            ).alias("nll_micro"),
        )
    )
    agg = nll.groupBy("doc_id").agg(
        F.sum("nll_micro").alias("nll_sum_micro"),
        F.count("*").alias("n_bigrams"),
    )
    avg = F.expr("nll_sum_micro DIV n_bigrams")
    return agg.select(
        "doc_id",
        "n_bigrams",
        "nll_sum_micro",
        avg.cast("long").alias("avg_nll_micro"),
        F.when(avg < _PPL_HEAD_MAX, "head")
        .when(avg < _PPL_MIDDLE_MAX, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ------------------------------- IVF-PQ: cell-restricted compressed scan ----
def _knn_ivf_pq_oracle(k: int = 5, dim: int = 64) -> str:
    """Generated oracle composing the two frozen stages: the IVF centroid
    cell assignment (verbatim from `_knn_ivf_oracle`'s CTE chain) and the
    PQ encode/ADC tables (verbatim from `_knn_pq_oracle`'s), with the pair
    join restricted to the query's cell — both literal tables embedded, so
    cells, codes, and distances are engine-exact."""
    from data_warehouse_flink_spark.functions.ivf_centroids import CENTROIDS
    from data_warehouse_flink_spark.functions.pq_codebooks import (
        CODEBOOKS,
        SUB_DIM,
    )

    cent_cols = ",\n             ".join(
        "[" + ", ".join(repr(v) for v in c) + f"] AS c{j}"
        for j, c in enumerate(CENTROIDS)
    )
    cdists = ", ".join(
        f"ROUND(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> (vecd[i] - c{j}[i]) * (vecd[i] - c{j}[i]))), 6)"
        for j in range(len(CENTROIDS))
    )

    def dist_list(m: int, book) -> str:
        off = m * SUB_DIM
        entries = []
        for cw in book:
            terms = " + ".join(
                f"(vecd[{off + i + 1}] - {cw[i]!r})"
                f" * (vecd[{off + i + 1}] - {cw[i]!r})"
                for i in range(SUB_DIM)
            )
            entries.append(f"ROUND({terms}, 6)")
        return "[" + ", ".join(entries) + "]"

    dl_cols = ",\n             ".join(
        f"{dist_list(m, book)} AS dl{m}" for m, book in enumerate(CODEBOOKS)
    )
    code_cols = ", ".join(
        f"list_position(dl{m}, list_min(dl{m})) - 1 AS code{m}"
        for m in range(len(CODEBOOKS))
    )
    adc = " + ".join(
        f"q.dl{m}[e.code{m} + 1]" for m in range(len(CODEBOOKS))
    )
    return f"""
    WITH cents AS (
      SELECT {cent_cols}
    ), v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      FROM embeddings
    ), cellt AS (
      SELECT vec_id,
             list_position(dl, list_min(dl)) - 1 AS cell
      FROM (
        SELECT vec_id, [{cdists}] AS dl FROM v CROSS JOIN cents
      )
    ), dls AS (
      SELECT vec_id,
             {dl_cols}
      FROM v
    ), enc AS (
      SELECT d.vec_id, cellt.cell, {code_cols}
      FROM dls d JOIN cellt USING (vec_id)
    ), pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND({adc}, 6) AS adc_dist
      FROM (SELECT dls.*, cellt.cell FROM dls JOIN cellt USING (vec_id)) q
      JOIN enc e ON q.cell = e.cell
      WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
             AS BIGINT) AS rn
    FROM pairs
    QUALIFY rn <= {k}
    """


@register("knn_ivf_pq", oracle=_knn_ivf_pq_oracle())
def knn_ivf_pq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via IVF-PQ (nprobe=1 + ADC) — the
    composed production index: coarse cells bound the candidate set, PQ
    codes bound the per-candidate cost. Fifth and final ANN tier; see
    `functions/similarity.py::knn_ivf_pq` for the plan shape.

    The two checkpointed index tables (corpus cell assignment, query
    cells) route through `_cached` so bench reps and driver re-grades
    reuse ONE block each instead of leaking one per invocation."""
    from data_warehouse_flink_spark.functions.similarity import (
        frozen_ivf_assign,
        knn_ivf_pq,
    )

    embs = _embs_wide(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    assigned = _cached(
        spark,
        sf_dir,
        "ivf_pq_assigned",
        lambda: frozen_ivf_assign(embs).select("vec_id", "cell"),
    )
    qcells = _cached(
        spark,
        sf_dir,
        "ivf_pq_qcells_lt20",
        lambda: frozen_ivf_assign(
            queries.select(F.col("vec_id").alias("query_id"), "embedding"),
            id_col="query_id",
        ).select("query_id", "cell"),
    )
    return knn_ivf_pq(
        embs,
        queries,
        k=5,
        assigned=assigned,
        query_cells=qcells,
        codes=_pq_frozen_codes(spark, sf_dir),
    )


# -------------------- exact-substring dedup (overlapping window scan) ----
def _substring_dedup_plan(
    docs: DataFrame, n_tokens: int, hash_key: bool
) -> DataFrame:
    """Shared plan for the exact-substring contamination scans: one explode
    (corpus-token-count rows — linear), one window-keyed count, one join
    back, one per-doc aggregate; zero quadratic anything.

    ``hash_key=False`` shuffles on the raw window STRING (oracle-portable;
    ~100 bytes/row at corpus-token cardinality). ``hash_key=True`` is the
    production shape: the count/join key is ``xxhash64(w)`` — 8-byte keys,
    so the two window-keyed shuffles move ~12x fewer key bytes at 100 TB.
    Collision risk at 64 bits is the standard Bloom/hash-dedup contract
    (~n^2/2^65 false dups); the outputs are identical on every tested
    corpus and invariant-pinned in tests/test_round6_ops.py.
    """
    docs = docs.withColumn("toks", F.split("text", " "))
    wins = docs.filter(F.size("toks") >= n_tokens).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {n_tokens - 1}), "
                f"i -> array_join(slice(toks, i, {n_tokens}), ' '))"
            )
        ).alias("w"),
    )
    if hash_key:
        wins = wins.select("doc_id", F.xxhash64("w").alias("w"))
    cnt = wins.groupBy("w").agg(F.count("*").alias("c"))
    per_doc = (
        wins.join(cnt, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
    )
    ppm = F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0)).otherwise(
        F.expr("n_dup_windows * 1000000 DIV n_windows")
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            ppm.cast("long").alias("dup_ppm"),
            (ppm <= 500000).alias("keep"),
        )
    )


def _substring_dedup_oracle(n_tokens: int) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), wins AS (
      SELECT doc_id, array_to_string(t[i : i + {n_tokens - 1}], ' ') AS w
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - {n_tokens - 1})) AS i) s
      WHERE len(t) >= {n_tokens}
    ), cnt AS (
      SELECT w, count(*) AS c FROM wins GROUP BY 1
    ), per_doc AS (
      SELECT wins.doc_id,
             count(*)::BIGINT AS n_windows,
             sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_dup_windows
      FROM wins JOIN cnt USING (w) GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(p.n_windows, 0)::BIGINT AS n_windows,
           coalesce(p.n_dup_windows, 0)::BIGINT AS n_dup_windows,
           CASE WHEN coalesce(p.n_windows, 0) = 0 THEN 0
                ELSE (p.n_dup_windows * 1000000) // p.n_windows
           END::BIGINT AS dup_ppm,
           (CASE WHEN coalesce(p.n_windows, 0) = 0 THEN 0
                 ELSE (p.n_dup_windows * 1000000) // p.n_windows
            END <= 500000) AS keep
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


@register("doc_exact_substring_dedup", oracle=_substring_dedup_oracle(16))
def doc_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring contamination scan (the practical tier of Lee et
    al. 2022's suffix-array dedup): slide an OVERLAPPING 16-token window
    over every document, mark windows whose exact text recurs anywhere in
    the corpus, and flag documents more than half made of repeated
    substrings. Complements `doc_span_dedup` (non-overlapping spans,
    rewrites text): overlapping windows measure the duplicated FRACTION
    without alignment artifacts, which is what the keep/drop policy needs.

    Oracle tier: string-keyed (`_substring_dedup_plan` hash_key=False);
    `doc_exact_substring_dedup_fast` is the registered production shape.
    """
    docs = _docs_wide(spark, sf_dir)
    return _substring_dedup_plan(docs, n_tokens=16, hash_key=False)


@register("doc_exact_substring_dedup_fast", oracle=None)
def doc_exact_substring_dedup_fast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production-shape exact-substring scan: identical plan to the
    `doc_exact_substring_dedup` gate but the recurrence key is
    ``xxhash64(window)`` — an 8-byte shuffle key instead of a ~100-byte
    16-token string, the difference between a key-bytes-bound shuffle and
    a count-bound one at 100 TB. Rows-only entry (xxhash64 has no DuckDB
    counterpart); its correctness contract is pinned locally instead:
    byte-identical output to the md5-free string-keyed gate on sf0.01
    (tests/test_round6_ops.py — the hash only renames the count key, so
    any divergence would be a 64-bit collision).
    """
    docs = _docs_wide(spark, sf_dir)
    return _substring_dedup_plan(docs, n_tokens=16, hash_key=True)


@register("doc_exact_substring_dedup_50", oracle=_substring_dedup_oracle(50))
def doc_exact_substring_dedup_50(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 16-token scan at production granularity: 50-token overlapping
    windows, the span length published pipelines use for exact-substring
    decontamination (Lee et al. 2022 use 50 BPE tokens; this corpus is
    whitespace-tokenized so the unit is 50 words). Same linear plan and
    keep/drop policy; only the window parameter differs — short documents
    (< 50 tokens) contribute zero windows and are always kept.
    """
    docs = _docs_wide(spark, sf_dir)
    return _substring_dedup_plan(docs, n_tokens=50, hash_key=False)


@register("doc_minhash_lsh_fast", oracle=None)
def doc_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape MinHash+LSH: identical pipeline to the
    `doc_minhash_lsh` gate but shingles hash through xxhash64 (31-bit
    mask) instead of the md5 28-bit oracle idiom — the path a real ingest
    runs. Rows-only entry (xxhash64 has no DuckDB counterpart); its
    correctness contract is pinned locally instead: every emitted pair is
    EXACT-Jaccard verified (the verify stage recomputes Jaccard from the
    raw shingles, so hash choice affects only candidate recall), and the
    result must be a subset of the brute-force `doc_ngram_jaccard` pairs
    with identical jaccard values (tests/test_round5_ops.py).
    """
    from data_warehouse_flink_spark.functions.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(
        _docs(spark, sf_dir),
        threshold=0.3,
        grams=_trigram_grams(spark, sf_dir),  # trigram table; ngram lives there
        signatures=_minhash_sigs(spark, sf_dir, "xxhash64"),
    )


# ----------------------- tokenizer fertility report (BPE cost by slice) ----
def _fertility_oracle() -> str:
    base = (
        "' ' || array_to_string(list_transform(string_split(text, ' '), "
        "w -> regexp_replace(w, '(.)', '\\1 ', 'g')), '| ')"
    )
    merged = _bpe_merged_sql(base)
    return f"""
    WITH enc AS (
      SELECT lang, source,
             len(string_split(text, ' '))::BIGINT AS n_words,
             len(list_filter(string_split(trim({merged}), ' '),
                             t -> t <> '|'))::BIGINT AS n_subwords
      FROM documents
    )
    SELECT lang, source,
           count(*)::BIGINT AS n_docs,
           sum(n_words)::BIGINT AS n_words,
           sum(n_subwords)::BIGINT AS n_subwords,
           (sum(n_subwords) * 1000000 // sum(n_words))::BIGINT
             AS fertility_ppm
    FROM enc GROUP BY 1, 2
    """


@register("doc_tokenizer_fertility", oracle=_fertility_oracle())
def doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subwords per word, in exact ppm) by
    (lang, source) — the report that decides whether a tokenizer is
    acceptable for a corpus slice before a training run burns compute on
    it (fertility >> 1 means the merges were trained on the wrong
    distribution). Reuses the frozen-merge BPE encode verbatim; the rollup
    adds one tiny aggregate to the zero-shuffle encode scan.
    """
    base = (
        "concat(' ', array_join(transform(split(text, ' '), "
        "w -> regexp_replace(w, '(.)', '$1 ')), '| '))"
    )
    merged = _bpe_merged_sql(base)
    enc = _docs_wide(spark, sf_dir).select(
        "lang",
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_words"),
        F.expr(
            f"CAST(size(filter(split(trim({merged}), ' '), "
            "t -> t != '|')) AS BIGINT)"
        ).alias("n_subwords"),
    )
    return enc.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_subwords").alias("n_subwords"),
        F.expr(
            "CAST(sum(n_subwords) * 1000000 DIV sum(n_words) AS BIGINT)"
        ).alias("fertility_ppm"),
    )


# -------------------- token-budget allocation (largest-remainder method) ----
_BUDGET_TOKENS = 1_000_000


@register(
    "corpus_token_budget_plan",
    oracle=f"""
    WITH per AS (
      SELECT source, lang,
             SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY 1, 2
    ), tot AS (SELECT SUM(n_tokens)::BIGINT AS total FROM per),
    q AS (
      SELECT source, lang, n_tokens,
             (n_tokens * {_BUDGET_TOKENS} // total)::BIGINT AS base_alloc,
             (n_tokens * {_BUDGET_TOKENS} % total)::BIGINT AS remainder
      FROM per, tot
    ), leftover AS (
      SELECT ({_BUDGET_TOKENS} - SUM(base_alloc))::BIGINT AS extra FROM q
    ), ranked AS (
      SELECT q.*, leftover.extra,
             row_number() OVER (ORDER BY remainder DESC, source, lang)
               AS rr
      FROM q, leftover
    )
    SELECT source, lang, n_tokens, base_alloc,
           (CASE WHEN rr <= extra THEN 1 ELSE 0 END)::BIGINT AS bonus,
           (base_alloc + CASE WHEN rr <= extra THEN 1 ELSE 0 END)::BIGINT
             AS alloc_tokens
    FROM ranked
    """,
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across (source, lang) strata by the
    largest-remainder method: each stratum gets floor(budget·share), and
    the unallocated residue goes, one token each, to the strata with the
    largest remainders — so Σ alloc == budget EXACTLY, with no float
    quota ever computed (the apportionment problem every mixture sampler
    solves before drawing; integer-exact in both engines by
    construction).

    Scale: the stratum table is metadata-sized (|sources|×|langs|), so the
    global remainder rank is free; the only corpus-sized work is the token
    rollup.
    """
    from data_warehouse_flink_spark.functions.text import token_count

    b = _BUDGET_TOKENS
    per = (
        _docs(spark, sf_dir)
        .select("source", "lang", token_count("text").alias("tc"))
        .groupBy("source", "lang")
        .agg(F.sum("tc").alias("n_tokens"))
    )
    # Both scalar folds (grand total, leftover) as global windows over the
    # AGGREGATED strata table (constant-sized): the previous
    # agg+crossJoin at each step consumed its input twice, compounding to
    # FOUR text-split corpus scans in the physical plan (per×2 inside q,
    # q×2 under ranked — guide §2.4). Now: one scan.
    from pyspark.sql import Window

    wtot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    q = per.withColumn("total", F.sum("n_tokens").over(wtot)).select(
        "source",
        "lang",
        "n_tokens",
        F.expr(f"CAST(n_tokens * {b} DIV total AS BIGINT)").alias(
            "base_alloc"
        ),
        F.expr(f"CAST(n_tokens * {b} % total AS BIGINT)").alias("remainder"),
    )
    w = Window.orderBy(F.desc("remainder"), "source", "lang")
    ranked = q.withColumn(
        "extra", (F.lit(b) - F.sum("base_alloc").over(wtot)).cast("long")
    ).withColumn("rr", F.row_number().over(w))
    bonus = F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0)
    return ranked.select(
        "source",
        "lang",
        "n_tokens",
        "base_alloc",
        bonus.cast("long").alias("bonus"),
        (F.col("base_alloc") + bonus).cast("long").alias("alloc_tokens"),
    )


# ------------------------ LSH recall evaluation (banded vs brute force) ----
def _lsh_recall_oracle(num_hashes: int = 64, bands: int = 16) -> str:
    """Generated oracle: exact trigram-Jaccard pairs (brute force) banded
    by similarity, flagged with LSH-candidate membership from the SAME
    md5/affine signature CTEs the `doc_minhash_lsh` gate verifies — i.e.
    the evaluation both stages already proved correct, joined."""
    return f"""
    WITH {_minhash_bands_sql(num_hashes, bands)}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
    ), flagged AS (
      SELECT e.jaccard,
             CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS found
      FROM exact e LEFT JOIN cand c
        ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    )
    SELECT CASE WHEN jaccard < 0.5 THEN '0.3-0.5'
                WHEN jaccard < 0.7 THEN '0.5-0.7'
                WHEN jaccard < 0.9 THEN '0.7-0.9'
                ELSE '0.9+' END AS jaccard_band,
           count(*)::BIGINT AS n_exact_pairs,
           sum(found)::BIGINT AS n_lsh_found,
           (sum(found) * 1000000 // count(*))::BIGINT AS recall_ppm
    FROM flagged GROUP BY 1
    """


@register("doc_lsh_recall_report", oracle=_lsh_recall_oracle())
def doc_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall audit: of the TRUE near-dup pairs (brute-force trigram
    Jaccard ≥ 0.3), what fraction does the 16-band/4-row MinHash LSH
    surface as candidates, per similarity band — the S-curve evaluation a
    dedup team runs before trusting banded dedup at scale (recall should
    climb steeply with similarity; the 0.3–0.5 band is EXPECTED lossy).

    Composes the two already-verified stages: the shared brute-force
    candidate table and the gate's md5 signature/banding pipeline. Cost is
    candidate-proportional (both inputs are pair tables, never n²
    recompute).
    """
    from data_warehouse_flink_spark.functions.dedup import (
        lsh_candidate_pairs,
    )

    exact = _candidate_pairs(spark, sf_dir)
    sigs = _minhash_sigs(spark, sf_dir, "md5")
    cand = lsh_candidate_pairs(sigs, 16, 4).withColumn("found", F.lit(1))
    flagged = exact.join(cand, ["doc_a", "doc_b"], "left").select(
        "jaccard", F.coalesce("found", F.lit(0)).alias("found")
    )
    band = (
        F.when(F.col("jaccard") < 0.5, "0.3-0.5")
        .when(F.col("jaccard") < 0.7, "0.5-0.7")
        .when(F.col("jaccard") < 0.9, "0.7-0.9")
        .otherwise("0.9+")
    )
    return flagged.groupBy(band.alias("jaccard_band")).agg(
        F.count("*").alias("n_exact_pairs"),
        F.sum("found").alias("n_lsh_found"),
        F.expr(
            "CAST(sum(found) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("recall_ppm"),
    )


def _simhash_recall_oracle(bits: int = 48) -> str:
    """Generated oracle for the SimHash recall audit: the exact pair set
    for Hamming ≤ 5 comes from a 6-block pigeonhole join (lossless there
    by construction, so it IS brute force without the n² cost), the
    candidate set from the production 4-quarter join; recall per Hamming
    band is their ratio. Reuses the signature CTEs the `doc_simhash`
    oracle already proved value-exact."""
    return f"""
    WITH {_simhash_sig_ctes(bits)},
    {_simhash_block_cte("blocks6", bits, 6)},
    {_simhash_block_cte("blocks4", bits, 4)},
    exact AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM blocks6 a JOIN blocks6 b
        ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks4 a JOIN blocks4 b
        ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
    ), flagged AS (
      SELECT e.hamming,
             CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS found
      FROM exact e LEFT JOIN cand c
        ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    )
    SELECT CASE WHEN hamming <= 3 THEN '0-3'
                ELSE '4-5' END AS hamming_band,
           count(*)::BIGINT AS n_exact_pairs,
           sum(found)::BIGINT AS n_blocked_found,
           (sum(found) * 1000000 // count(*))::BIGINT AS recall_ppm
    FROM flagged GROUP BY 1
    """


@register("doc_simhash_recall_report", oracle=_simhash_recall_oracle())
def doc_simhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash recall audit (VERDICT r6 #6, the `doc_lsh_recall_report`
    pattern): of the TRUE pairs at each Hamming distance ≤ 5, what
    fraction does the production 4-quarter pigeonhole blocking surface?
    The 0-3 band is the dedup contract and must read 1000000 ppm — the
    quarter join is LOSSLESS there by pigeonhole, and this gate measures
    that instead of assuming it; 4-5 is expected lossy (the S-curve tail;
    824k ppm at sf0.01).

    The exact baseline is NOT an n² cross join: a 6-block pigeonhole
    join is lossless for Hamming ≤ 5 (≤ 5 differing bits touch ≤ 5 of 6
    blocks), so both sides stay blocked. Block-key width is the audit's
    cost dial: random-signature collisions cost ~n²·blocks/2^width, so 6
    blocks of 8 bits (n²/43) beat 8 blocks of 6 bits (n²/8) — measured
    5.9 s → 3.3 s at sf0.1 for giving up the 6-7 band, and 1.4 s
    steady-state once the signature table is _cached. Like any Hamming
    audit wider than the production radius, at 100 TB this runs on a
    corpus sample.
    """
    # sigs via the shared `_simhash_sigs` cache, not a bare per-call
    # localCheckpoint: the bench and any repeated audit invoke this 3×, and
    # per-invocation checkpoints leak a cached block each call (the
    # knn_ivf_pq lesson, round 6).
    #
    # r15 (VERDICT r14 #4, guide §2.4): the r12-r14 form ran TWO blocked
    # self-joins over the sigs (6-block exact baseline + 4-quarter
    # production candidates), each with its own pair-level distinct, then
    # LEFT-joined the 1.4M-pair and 3.1M-pair sets — three joins. But
    # 4-quarter candidacy for a pair ALREADY IN HAND is a pure function
    # of its signatures: the pair shares production quarter i iff quarter
    # i of (sim_a XOR sim_b) is all-zero. So the candidate join is not
    # fused — it is DELETED: one 6-block self-join emits every exact
    # collision with hamming and found computed per row from the XOR,
    # and one pair-level distinct replaces distinct+distinct+left-join.
    # hamming and found are BOTH pure functions of the pair's XOR, so
    # distinct over (doc_a, doc_b, hamming, found) is exactly one row per
    # pair — and the function-less dedup HashAggregate matters: a
    # groupBy(doc_a, doc_b).agg(max(hamming), max(found)) twin measured
    # 2.6 s vs 0.98 s for this distinct on identical input (1.36M pair
    # groups × per-key aggregation buffers vs the dedup-only fast path).
    # A first attempt that instead unioned both schemes' block keys into
    # one 10-slice self-join measured 1.28 → 3.86 s — this corpus'
    # templated documents put 11% of ALL doc pairs within Hamming 5, so
    # feeding the candidate scheme's 3.9M extra collision rows through a
    # pair aggregate cost more than the join it saved.
    sigs = _simhash_sigs(spark, sf_dir)
    mask6 = (1 << 8) - 1
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * 8)
                    .bitwiseAND(F.lit(mask6))
                    for i in range(6)
                ]
            )
        ).alias("block", "key"),
    )
    left = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "block",
        "key",
    )
    right = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "block",
        "key",
    )
    xor = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    mask4 = (1 << 12) - 1
    shares_quarter = reduce(
        lambda a, b: a | b,
        [
            F.shiftright(xor, i * 12).bitwiseAND(F.lit(mask4)) == 0
            for i in range(4)
        ],
    )
    flagged = (
        left.join(right, on=["block", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(xor).alias("hamming"),
            shares_quarter.cast("int").alias("found"),
        )
        .filter(F.col("hamming") <= 5)
        .distinct()
        .select("hamming", "found")
    )
    band = F.when(F.col("hamming") <= 3, "0-3").otherwise("4-5")
    return flagged.groupBy(band.alias("hamming_band")).agg(
        F.count("*").alias("n_exact_pairs"),
        F.sum("found").alias("n_blocked_found"),
        F.expr(
            "CAST(sum(found) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ------------------- mixture resample execution (budget + A-ES combined) ----
@register(
    "corpus_mixture_resample",
    oracle=f"""
    WITH per AS (
      SELECT source, lang,
             SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY 1, 2
    ), tot AS (SELECT SUM(n_tokens)::BIGINT AS total FROM per),
    alloc AS (
      SELECT source, lang,
             (n_tokens * {_BUDGET_TOKENS} // total)::BIGINT AS alloc_tokens
      FROM per, tot
    ), keyed AS (
      SELECT source, lang, doc_id,
             len(string_split(text, ' '))::BIGINT AS doc_tokens,
             CAST(round(-ln(
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                 + 1) / 268435457.0)
             ) / CAST(n_chars AS DOUBLE) * 1000000.0, 0) AS BIGINT)
               AS key_micro
      FROM documents
    ), ranked AS (
      SELECT source, lang, doc_id, doc_tokens, key_micro,
             sum(doc_tokens) OVER (
               PARTITION BY source, lang
               ORDER BY key_micro, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM keyed
    ), sel AS (
      SELECT r.*, a.alloc_tokens
      FROM ranked r JOIN alloc a USING (source, lang)
      WHERE r.cum_tokens <= a.alloc_tokens
    )
    SELECT source, lang,
           count(*)::BIGINT AS n_docs_selected,
           sum(doc_tokens)::BIGINT AS n_tokens_selected,
           max(cum_tokens)::BIGINT AS budget_used
    FROM sel GROUP BY 1, 2
    """,
)
def corpus_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture sampler EXECUTED: each (source, lang) stratum draws its
    A-ES-ordered documents (same micro-unit -ln(u)/w keys as
    `doc_weighted_sample` — see there for the round-12 nano->micro note)
    until the stratum's proportional token budget (same floor-quota as
    `corpus_token_budget_plan`) is exhausted — greedy prefix by cumulative
    token count. This is the step that actually materializes a training
    mixture from the plan; reported per stratum.

    Plan: one corpus scan for the stratum totals (tiny, broadcast), one
    for the keyed docs; the cumulative sum partitions by stratum — the
    same key the rank already shuffled on, so sizing runs partition-local.
    All selection arithmetic is exact integers.
    """
    from pyspark.sql import Window

    from data_warehouse_flink_spark.functions.text import token_count

    b = _BUDGET_TOKENS
    docs = _docs_wide(spark, sf_dir)
    per = (
        docs.select("source", "lang", token_count("text").alias("tc"))
        .groupBy("source", "lang")
        .agg(F.sum("tc").alias("n_tokens"))
    )
    # Grand total folded as a global window over the AGGREGATED table
    # (rows = #strata, so the single-partition window is metadata-sized at
    # any corpus size). The previous `per.agg(...)` + crossJoin consumed
    # `per` twice, and Catalyst planned the whole text-split scan+agg
    # subtree twice (3 corpus scans in the plan; guide §2.4) — the window
    # form computes `per` once: 3 scans → 2.
    alloc = per.withColumn(
        "total",
        F.sum("n_tokens").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    ).select(
        "source",
        "lang",
        F.expr(f"CAST(n_tokens * {b} DIV total AS BIGINT)").alias(
            "alloc_tokens"
        ),
    )
    h = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT)"
    keyed = docs.select(
        "source",
        "lang",
        "doc_id",
        token_count("text").alias("doc_tokens"),
        F.expr(
            f"CAST(round(-ln(({h} + 1) / 268435457.0) "
            f"/ CAST(n_chars AS DOUBLE) * 1000000.0, 0) AS BIGINT)"
        ).alias("key_micro"),
    )
    w = (
        Window.partitionBy("source", "lang")
        .orderBy("key_micro", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = keyed.withColumn("cum_tokens", F.sum("doc_tokens").over(w))
    sel = ranked.join(F.broadcast(alloc), ["source", "lang"]).filter(
        F.col("cum_tokens") <= F.col("alloc_tokens")
    )
    return sel.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs_selected"),
        F.sum("doc_tokens").alias("n_tokens_selected"),
        F.max("cum_tokens").alias("budget_used"),
    )


# ---------------- multimodal shard packing (binary storage layout plan) ----
@register(
    "multimodal_shard_plan",
    oracle="""
    WITH media AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'text/plain'
                             WHEN 1 THEN 'image/png'
                             ELSE 'audio/wav' END AS media_type,
             doc_id // 1000 AS pack_group,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ), cum AS (
      SELECT media_type, pack_group, doc_id, n_bytes,
             coalesce(sum(n_bytes) OVER (
               PARTITION BY media_type, pack_group ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prior_bytes
      FROM media
    ), sharded AS (
      SELECT media_type, pack_group, doc_id, n_bytes,
             (prior_bytes // 4096)::BIGINT AS shard_id
      FROM cum
    )
    SELECT media_type, pack_group, shard_id,
           count(*)::BIGINT AS n_items,
           sum(n_bytes)::BIGINT AS shard_bytes,
           min(doc_id)::BIGINT AS first_doc_id,
           max(doc_id)::BIGINT AS last_doc_id
    FROM sharded GROUP BY 1, 2, 3
    """,
)
def multimodal_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload shard packing: assign each media item to a
    size-bounded (4 KiB here; GBs in production) shard within its
    (media_type, ingest segment) — the storage-layout plan that keeps
    blob files uniformly sized for training-loader throughput. Media type
    is derived (frozen synthesis — the corpus ships text only) so the
    plan exercises multi-type partitioning; sibling of
    `events_compaction_plan` with the same floor-of-prior-sum boundary
    rule.

    Scale note: packing runs WITHIN bounded ingest segments (pack_group =
    doc_id DIV 1000) — a single global cumulative sum per media type
    would serialize one partition per type at 100 TB, and cross-segment
    packing buys nothing (shards never span an ingest boundary in
    practice). The window's partition key is (type, segment): thousands
    of bounded partitions, fully parallel.
    """
    from pyspark.sql import Window

    media = _docs_wide(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CASE doc_id % 3 WHEN 0 THEN 'text/plain' "
            "WHEN 1 THEN 'image/png' ELSE 'audio/wav' END"
        ).alias("media_type"),
        F.expr("doc_id DIV 1000").alias("pack_group"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    w = (
        Window.partitionBy("media_type", "pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        media.withColumn(
            "prior_bytes", F.coalesce(F.sum("n_bytes").over(w), F.lit(0))
        )
        .withColumn(
            "shard_id", F.expr("CAST(prior_bytes DIV 4096 AS BIGINT)")
        )
        .groupBy("media_type", "pack_group", "shard_id")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("n_bytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


# ----------------- CCNet-ordered curation funnel (4-stage composition) ----
def _register_ccnet_funnel() -> None:
    """Register the CCNet-ordered funnel with every stage oracle fetched
    from the registry VERBATIM (same no-drift discipline as the streaming
    SCD2 twin): URL dedup → quality filter → language ID → perplexity
    partition, reported per (predicted lang, perplexity bucket)."""
    from data_warehouse_flink_spark.registry import _REGISTRY

    url_o = _REGISTRY["doc_url_dedup"].oracle
    qual_o = _REGISTRY["doc_quality_classifier"].oracle
    lang_o = _REGISTRY["doc_language_id"].oracle
    ppl_o = _REGISTRY["doc_perplexity_bucket"].oracle

    oracle = f"""
    WITH u AS (
      SELECT canonical_doc_id FROM ({url_o}) _u
    ), q AS (
      SELECT doc_id, keep FROM ({qual_o}) _q
    ), l AS (
      SELECT doc_id, pred_lang FROM ({lang_o}) _l
    ), p AS (
      SELECT doc_id, bucket FROM ({ppl_o}) _p
    )
    SELECT l.pred_lang, coalesce(p.bucket, 'na') AS ppl_bucket,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN d.doc_id IN (SELECT canonical_doc_id FROM u)
                    THEN 1 ELSE 0 END)::BIGINT AS n_url_canonical,
           sum(CASE WHEN d.doc_id IN (SELECT canonical_doc_id FROM u)
                     AND q.keep THEN 1 ELSE 0 END)::BIGINT AS n_final
    FROM documents d
    JOIN l ON d.doc_id = l.doc_id
    JOIN q ON d.doc_id = q.doc_id
    LEFT JOIN p ON d.doc_id = p.doc_id
    GROUP BY 1, 2
    """

    @register("corpus_ccnet_funnel", oracle=oracle)
    def corpus_ccnet_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The CCNet curation order as ONE composed report: URL-canonical
        selection → frozen-weight quality filter, sliced by predicted
        language and perplexity bucket — the per-slice retention funnel
        that decides which (lang, head/middle/tail) shards train. Every
        stage is an already-verified registered operator; the composed
        oracle embeds their oracles verbatim (fetched from the registry
        at registration, so they cannot drift).

        Plan (r14, guide §2.4): the r13 form computed each per-row stage
        on its OWN documents scan and joined the stage outputs back on
        doc_id — four doc-keyed joins, 10 parquet scans. The per-row
        stages (language ID, frozen-weight quality, URL canonicalization)
        now stack into ONE projection chain over ONE scan (the operators'
        `passthrough` hook keeps each stage's code the single verified
        implementation), the URL-canonical flag folds the groupBy+semi-
        join into a min-over-cu window (same boolean, one exchange), and
        the only join left is the perplexity-bucket lookup against the
        session-cached LM table. One corpus scan, cu-window exchange,
        one doc-keyed join, dozen-group rollup.
        """
        from pyspark.sql import Window

        from data_warehouse_flink_spark.functions.text import (
            canonicalize_url,
            language_id,
            linear_quality_score,
        )

        docs = _docs_wide(spark, sf_dir)
        with_cu = docs.select(
            "doc_id",
            "text",
            F.expr(_URL_SYNTH_SPARK).alias("url"),  # needs source + lang
        ).select(
            "doc_id", "text", canonicalize_url(F.col("url")).alias("cu")
        )
        staged = linear_quality_score(
            language_id(with_cu, passthrough=("text", "cu")),
            passthrough=("cu", "pred_lang"),
        ).select("doc_id", "cu", "pred_lang", F.col("keep").alias("q_keep"))
        flagged = staged.withColumn(
            "u",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("cu")),
        )
        ppl = doc_perplexity_bucket(spark, sf_dir).select(
            "doc_id", F.col("bucket").alias("ppl_bucket")
        )
        base = (
            flagged.join(ppl, "doc_id", "left")
            .select(
                "pred_lang",
                F.coalesce("ppl_bucket", F.lit("na")).alias("ppl_bucket"),
                "u",
                "q_keep",
            )
        )
        return base.groupBy("pred_lang", "ppl_bucket").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("u").cast("long")).alias("n_url_canonical"),
            F.sum((F.col("u") & F.col("q_keep")).cast("long")).alias(
                "n_final"
            ),
        )


_register_ccnet_funnel()


# --------------------- per-dimension embedding standardization (z-score) ----
@register(
    "embedding_standardize",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))
               AS xm
      FROM embeddings
    ), dims AS (
      SELECT d, sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
             count(*)::BIGINT AS n
      FROM (SELECT unnest(xm) AS x,
                   unnest(range(1, len(xm) + 1)) AS d FROM v)
      GROUP BY 1
    ), stats AS (
      SELECT d,
             CAST(sx AS DOUBLE) / n AS mean_m,
             sqrt(CAST(sxx AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
               AS std_m
      FROM dims
    ), z AS (
      SELECT v.vec_id,
             CAST(round((xm[s.d] - s.mean_m) / s.std_m * 1000.0, 0)
                  AS BIGINT) AS z_milli,
             s.d
      FROM v JOIN stats s ON TRUE
    )
    SELECT vec_id,
           sum(z_milli * z_milli)::BIGINT AS z_sq_sum_milli2,
           max(abs(z_milli))::BIGINT AS z_max_abs_milli
    FROM z GROUP BY 1
    """,
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization (whitening-lite) — the
    normalization pass before KMeans/quantizer training, where raw
    feature scales would otherwise dominate the geometry. Per-vector
    report: squared z-norm and max |z| (the outlier screen), both in
    exact integers.

    Exactness path: floats quantize to integer micro-units FIRST (scan
    projection), so the per-dim sums Σx, Σx² are exact BIGINTs; mean/std
    become doubles derived from the same exact integers in the same
    operation order in both engines, and z rounds to milli-units before
    the reductions. Plan: one stats aggregate (64 groups, broadcast
    back) + one scan-linear encode — the sq8 two-pass shape.
    """
    dims = (
        _embs_wide(spark, sf_dir)
        .select(
            F.posexplode(
                F.expr(
                    "transform(embedding, x -> "
                    "CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0)"
                    " AS BIGINT))"
                )
            ).alias("d0", "x")
        )
        .groupBy((F.col("d0") + 1).alias("d"))
        .agg(
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.count("*").alias("n"),
        )
    )
    stats = dims.select(
        "d",
        (F.col("sx").cast("double") / F.col("n")).alias("mean_m"),
        F.sqrt(
            F.col("sxx").cast("double") / F.col("n")
            - (F.col("sx").cast("double") / F.col("n"))
            * (F.col("sx").cast("double") / F.col("n"))
        ).alias("std_m"),
    )
    st = stats.groupBy().agg(
        F.expr("array_sort(collect_list(struct(d, mean_m, std_m)))").alias(
            "st"
        )
    )
    return (
        _embs_wide(spark, sf_dir)
        .crossJoin(F.broadcast(st))
        .select(
            "vec_id",
            F.expr(
                "transform(sequence(1, size(embedding)), i -> "
                "CAST(round((CAST(round(CAST(element_at(embedding, i)"
                " AS DOUBLE) * 1000000.0, 0) AS BIGINT) - st[i-1].mean_m)"
                " / st[i-1].std_m * 1000.0, 0) AS BIGINT))"
            ).alias("zs"),
        )
        .select(
            "vec_id",
            F.expr(
                "aggregate(zs, CAST(0 AS BIGINT), "
                "(acc, z) -> acc + z * z)"
            ).alias("z_sq_sum_milli2"),
            F.expr(
                "array_max(transform(zs, z -> abs(z)))"
            ).alias("z_max_abs_milli"),
        )
    )


# -------------------------- n-gram novelty (data-selection diversity) ----
@register(
    "doc_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
    ), df AS (
      SELECT gram, count(*) AS df FROM grams GROUP BY 1
    ), per AS (
      SELECT grams.doc_id,
             count(*)::BIGINT AS n_distinct_grams,
             sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_unique_grams
      FROM grams JOIN df USING (gram) GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(per.n_distinct_grams, 0)::BIGINT AS n_distinct_grams,
           coalesce(per.n_unique_grams, 0)::BIGINT AS n_unique_grams,
           CASE WHEN coalesce(per.n_distinct_grams, 0) = 0 THEN 0
                ELSE (per.n_unique_grams * 1000000 // per.n_distinct_grams)
           END::BIGINT AS novelty_ppm
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct trigrams
    that appear NOWHERE else in the corpus (df = 1) — the diversity
    signal data-selection mixes against quality (high-novelty docs add
    information; zero-novelty docs are recombinations). Inverse cousin of
    `doc_exact_substring_dedup` (which scores REPEATED content).

    Same linear shape as every gram pipeline: one distinct-gram explode,
    one df count, one join back, one per-doc rollup — shuffle keys on
    the gram only. The gram never reaches the output, so both shuffles
    key on xxhash64(gram) (the round-7 key-width swap; string arm kept
    for the byte-identical pin, measured in the 1M-doc smoke).
    """
    return _ngram_novelty_frame(spark, sf_dir, hash_grams=True)


def _ngram_novelty_frame(
    spark: SparkSession, sf_dir: str, hash_grams: bool
) -> DataFrame:
    docs = _docs_wide(spark, sf_dir).withColumn("toks", F.split("text", " "))
    grams = docs.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(toks) - 2), "
                "i -> concat_ws(' ', element_at(toks, i), "
                "element_at(toks, i + 1), element_at(toks, i + 2))))"
            )
        ).alias("gram"),
    )
    if hash_grams:
        grams = grams.select("doc_id", F.xxhash64("gram").alias("gram"))
    df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    per = (
        grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "n_unique_grams"
            ),
        )
    )
    ppm = F.when(
        F.coalesce("n_distinct_grams", F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.expr("n_unique_grams * 1000000 DIV n_distinct_grams"))
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_distinct_grams", F.lit(0)).alias(
                "n_distinct_grams"
            ),
            F.coalesce("n_unique_grams", F.lit(0)).alias("n_unique_grams"),
            ppm.cast("long").alias("novelty_ppm"),
        )
    )


# ------------------------------ corpus length profile (power-of-2 bands) ----
@register(
    "doc_length_histogram",
    oracle="""
    WITH lens AS (
      SELECT source,
             len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ), banded AS (
      SELECT source, n_tokens,
             CAST(floor(log2(greatest(n_tokens, 1))) AS BIGINT) AS band
      FROM lens
    )
    SELECT source, band,
           (1 << band)::BIGINT AS band_lo,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS sum_tokens
    FROM banded GROUP BY 1, 2
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per source in power-of-2 token bands —
    the first profiling chart anyone draws over a new corpus (truncation
    and packing policy both read off it). Zero-shuffle banding + one
    small rollup; log2-of-integer banding is exact (floor(log2(n)) flips
    only at exact powers of two, which both engines hit identically on
    BIGINT inputs)."""
    lens = _docs_wide(spark, sf_dir).select(
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
    )
    banded = lens.withColumn(
        "band",
        F.expr(
            "CAST(floor(log2(CAST(greatest(n_tokens, 1) AS DOUBLE)))"
            " AS BIGINT)"
        ),
    )
    return banded.groupBy("source", "band").agg(
        F.expr("CAST(shiftleft(1, CAST(first(band) AS INT)) AS BIGINT)"
               ).alias("band_lo"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


# ----------------- production-tier contracts (rows-only → hash-gradable) ----
def _tier_identity_contract(fast: DataFrame, gate: DataFrame) -> DataFrame:
    """Single-row contract: the production xxhash64 tier's output is
    byte-identical (as a multiset) to its string/md5-keyed gate.

    Same shape as the round-6 approximation contracts (`uv_approx`,
    `event_value_percentiles_approx`): the Spark side computes the
    invariant genuinely (two anti-semi multiset differences — exceptAll
    both ways — must both be empty); the oracle re-derives the
    hash-independent column (`n_rows`) from the gate's own SQL and pins
    the invariant flag to TRUE, so a divergence reds the driver gate
    instead of hiding in a rows-only check. Cost is one extra run of each
    tier at the grading SF — the tiers themselves stay registered
    unchanged as the bench's production-shape entries."""
    n = gate.agg(F.count("*").alias("n_rows"))
    mism = (
        fast.exceptAll(gate)
        .select(F.lit(1).alias("one"))
        .unionAll(gate.exceptAll(fast).select(F.lit(1).alias("one")))
        .agg(F.count("*").alias("n_mismatch"))
    )
    return n.crossJoin(mism).select(
        (F.col("n_mismatch") == 0).alias("identical"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def _minhash_subset_contract(fast: DataFrame, brute: DataFrame) -> DataFrame:
    """Single-row contract: every `fast` pair appears in the brute-force
    pair set with an IDENTICAL jaccard score. Factored out of the
    registered gate so the negative arm is testable (a foreign or
    rescored pair must flip the flag — tests/test_round8_ops.py)."""
    b = brute.select(
        F.col("doc_a").alias("b_a"),
        F.col("doc_b").alias("b_b"),
        F.col("jaccard").alias("b_jac"),
    )
    j = fast.join(
        b, (fast["doc_a"] == b["b_a"]) & (fast["doc_b"] == b["b_b"]), "left"
    )
    agg = j.agg(
        F.count("*").alias("n_fast"),
        # coalesce: sum over ZERO rows is NULL, and a NULL flag would
        # falsely red the gate on a vacuously-correct empty fast side
        F.coalesce(
            F.sum(
                F.when(
                    F.col("b_jac").isNotNull()
                    & (F.col("jaccard") == F.col("b_jac")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_matched"),
    )
    n_brute = brute.agg(F.count("*").alias("n_brute"))
    return agg.crossJoin(n_brute).select(
        (F.col("n_fast") == F.col("n_matched")).alias(
            "subset_with_equal_scores"
        ),
        F.col("n_brute").cast("long").alias("n_bruteforce_pairs"),
    )


def _dsir_invariants_contract(gate: DataFrame, fast: DataFrame) -> DataFrame:
    """Single-row contract over the hash-INDEPENDENT DSIR columns: both
    tiers must cover the identical doc_id set with identical per-doc gram
    totals. Factored out of the registered gate so the negative arm is
    testable (tests/test_round8_ops.py)."""
    g = gate.select("doc_id", "n_grams")
    f = fast.select(
        F.col("doc_id").alias("f_doc"), F.col("n_grams").alias("f_n")
    )
    j = g.join(f, g["doc_id"] == f["f_doc"], "full_outer")
    agg = j.agg(
        F.count("*").alias("n_rows"),
        # coalesce: sum over ZERO rows is NULL (empty-corpus edge); the
        # flag and totals must stay defined
        F.coalesce(
            F.sum(
                F.when(
                    F.col("doc_id").isNotNull()
                    & F.col("f_doc").isNotNull()
                    & (F.col("n_grams") == F.col("f_n")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_agree"),
        F.coalesce(
            F.sum(
                F.when(F.col("doc_id").isNotNull(), F.col("n_grams"))
                .otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("total_grams"),
    )
    return agg.select(
        (F.col("n_rows") == F.col("n_agree")).alias("per_doc_grams_match"),
        F.col("n_rows").cast("long").alias("n_docs"),
        F.col("total_grams").cast("long").alias("total_grams"),
    )


def _register_fast_tier_contracts() -> None:
    """Register the four `_fast`-twin contracts with oracles composed from
    the registry (fetched at registration so they cannot drift) — closes
    the driver's last weaker-check category (NOTES r8 candidate #3): after
    these, every registered capability is either hash-graded directly or
    hash-graded through a contract over its output."""
    from data_warehouse_flink_spark.registry import _REGISTRY

    span_o = _REGISTRY["doc_span_dedup"].oracle
    sub_o = _REGISTRY["doc_exact_substring_dedup"].oracle
    jac_o = _REGISTRY["doc_ngram_jaccard"].oracle

    @register(
        "doc_span_dedup_fast_contract",
        oracle=f"""
        SELECT TRUE AS identical, count(*)::BIGINT AS n_rows
        FROM ({span_o}) _g
        """,
    )
    def doc_span_dedup_fast_contract(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """`doc_span_dedup_fast` (xxhash64 span shuffle key) must be
        byte-identical to the string-keyed `doc_span_dedup` gate — the
        local round-6 pin, promoted to a driver-gradable contract."""
        from data_warehouse_flink_spark.functions.dedup import span_dedup

        docs = _docs(spark, sf_dir)
        return _tier_identity_contract(
            span_dedup(docs, hash_key=True), span_dedup(docs, hash_key=False)
        )

    @register(
        "doc_exact_substring_dedup_fast_contract",
        oracle=f"""
        SELECT TRUE AS identical, count(*)::BIGINT AS n_rows
        FROM ({sub_o}) _g
        """,
    )
    def doc_exact_substring_dedup_fast_contract(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """`doc_exact_substring_dedup_fast` (xxhash64 window recurrence
        key) must be byte-identical to the string-keyed 16-token gate."""
        docs = _docs_wide(spark, sf_dir)
        return _tier_identity_contract(
            _substring_dedup_plan(docs, n_tokens=16, hash_key=True),
            _substring_dedup_plan(docs, n_tokens=16, hash_key=False),
        )

    @register(
        "doc_importance_weights_fast_contract",
        oracle="""
        SELECT TRUE AS per_doc_grams_match,
               count(*)::BIGINT AS n_docs,
               sum(len(t) + CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END
                   )::BIGINT AS total_grams
        FROM (SELECT string_split(text, ' ') AS t FROM documents) _t
        """,
    )
    def doc_importance_weights_fast_contract(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """`doc_importance_weights_fast` (xxhash64 DSIR buckets) vs the md5
        gate on the hash-INDEPENDENT columns: identical doc_id set and
        per-doc gram totals (weights legitimately differ — the bucket
        partition differs). The oracle recomputes n_docs and the grand
        gram total from the corpus directly (unigrams + bigrams per doc),
        so a drift in either tier's gram stage reds the gate."""
        return _dsir_invariants_contract(
            _dsir_weights(spark, sf_dir, bucket_hash="md5"),
            _dsir_weights(spark, sf_dir, bucket_hash="xxhash64"),
        )

    @register(
        "doc_minhash_lsh_fast_contract",
        oracle=f"""
        SELECT TRUE AS subset_with_equal_scores,
               count(*)::BIGINT AS n_bruteforce_pairs
        FROM ({jac_o}) _g
        """,
    )
    def doc_minhash_lsh_fast_contract(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """`doc_minhash_lsh_fast` (xxhash64 shingle hash) emits only pairs
        that appear in the brute-force trigram-Jaccard set with IDENTICAL
        exact-Jaccard scores (hash choice affects candidate recall only —
        the verify stage recomputes Jaccard from the raw shingles). The
        round-5 local pin, promoted to a driver-gradable contract; recall
        itself stays a measured audit (`doc_lsh_recall_report`), not a
        contract, because it is legitimately probabilistic."""
        from data_warehouse_flink_spark.functions.dedup import (
            minhash_lsh_dedup,
        )

        fast = minhash_lsh_dedup(
            _docs(spark, sf_dir),
            threshold=0.3,
            grams=_trigram_grams(spark, sf_dir),
            signatures=_minhash_sigs(spark, sf_dir, "xxhash64"),
        )
        return _minhash_subset_contract(
            fast, _candidate_pairs(spark, sf_dir)
        )


_register_fast_tier_contracts()


# ------------------------------ ANN recall audit (all tiers vs brute) ----
def _register_knn_recall_report() -> None:
    """Register the ANN recall audit with the tier oracles composed from
    the registry (fetched at registration so they cannot drift) — the
    LSH-dedup (`doc_lsh_recall_report`, r5) and SimHash
    (`doc_simhash_recall_report`, r7) pattern applied to the remaining
    approximation family: the five ANN tiers now carry MEASURED recall@5
    against exact brute force, not just construction arguments."""
    from data_warehouse_flink_spark.registry import _REGISTRY

    tier_oracles = {
        t: _REGISTRY[f"knn_{t}"].oracle
        for t in (
            "lsh", "ivf", "pq", "ivf_pq", "rrf",
            "ivf_trained", "ivf_trained_sampled",
            "pq_trained", "pq_trained_sampled",
        )
    }
    brute_o = _REGISTRY["knn_bruteforce"].oracle
    arms = "\n      UNION ALL\n".join(
        f"""
      SELECT '{t}' AS tier,
             (SELECT count(*) FROM ({o}) _t
              JOIN brute USING (query_id, neighbor_id))::BIGINT AS n_hits,
             (SELECT count(*) FROM brute)::BIGINT AS n_possible"""
        for t, o in tier_oracles.items()
    )
    oracle = f"""
    WITH brute AS (
      SELECT query_id, neighbor_id FROM ({brute_o}) _b
    )
    SELECT tier, n_hits, n_possible,
           (n_hits * 1000000 // n_possible)::BIGINT AS recall_ppm
    FROM ({arms}
    ) _arms
    """

    @register("knn_recall_report", oracle=oracle)
    def knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recall@5 (exact ppm) of every ANN tier against the brute-force
        cosine top-5 — the acceptance report an embedding-retrieval
        deployment reads before picking its tier. One row per tier
        (lsh, ivf, pq, ivf_pq, rrf, the in-engine-trained ivf_trained /
        pq_trained, and the sample-fit ivf_trained_sampled /
        pq_trained_sampled, so frozen vs full-fit vs sampled-fit
        quantizers are measured side by side for BOTH index families);
        n_possible
        is the brute-force hit count so the ratio is exact integer
        arithmetic.

        Scale shape: each tier is its own already-bucket/cell-restricted
        query over the shared cached index tables; the audit adds only
        query-count-proportional semi-joins (top-5 lists, never corpus
        pairs). Like every recall audit wider than production needs, at
        100 TB this runs over a query SAMPLE — the per-tier plans are
        unchanged."""
        # the brute baseline is referenced by all five arms (semi-join +
        # n_possible each) — materialize it once per session or the
        # queries×corpus cosine stage re-executes per reference
        brute = _cached(
            spark,
            sf_dir,
            "knn_brute_top5",
            lambda: knn_bruteforce_query(spark, sf_dir).select(
                "query_id", "neighbor_id"
            ),
        )
        tiers = {
            "lsh": knn_lsh_query,
            "ivf": knn_ivf_query,
            "pq": knn_pq_query,
            "ivf_pq": knn_ivf_pq_query,
            "rrf": knn_rrf_query,
            "ivf_trained": knn_ivf_trained,
            "ivf_trained_sampled": knn_ivf_trained_sampled,
            "pq_trained": knn_pq_trained,
            "pq_trained_sampled": knn_pq_trained_sampled,
        }
        out = None
        n_possible = brute.agg(F.count("*").alias("n_possible"))
        for t, fn in tiers.items():
            hits = (
                fn(spark, sf_dir)
                .select("query_id", "neighbor_id")
                .join(brute, ["query_id", "neighbor_id"], "left_semi")
                .agg(F.count("*").alias("n_hits"))
            )
            row = hits.crossJoin(n_possible).select(
                F.lit(t).alias("tier"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.col("n_possible").cast("long").alias("n_possible"),
                F.expr("CAST(n_hits * 1000000 DIV n_possible AS BIGINT)"
                       ).alias("recall_ppm"),
            )
            out = row if out is None else out.unionAll(row)
        return out


# NOTE: _register_knn_recall_report() is invoked at the END of this
# module — the audit composes tier oracles from the registry, and its
# trained tiers register below (knn_ivf_trained in the k-means section,
# knn_pq_trained in the PQ section).


# -------------------- deterministic corpus shuffle + fixed-size shards ----
@register(
    "corpus_shuffle_shards",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 12))::BIGINT
               AS sort_key
      FROM documents
    ), pos AS (
      SELECT doc_id, sort_key,
             row_number() OVER (ORDER BY sort_key, doc_id)::BIGINT AS pos
      FROM keyed
    )
    SELECT doc_id, sort_key, pos,
           ((pos - 1) // 256)::BIGINT AS shard,
           ((pos - 1) % 256)::BIGINT AS pos_in_shard
    FROM pos
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle → exact global position →
    fixed-size training shards (256 docs/shard here; thousands of
    sequences at 100 TB) — the step between curation and the data loader:
    training wants a seed-reproducible permutation with equal-size shards,
    not a hash-bucketed approximation.

    sort_key = md5-prefix integer of (doc_id, seed) — the engine-portable
    hash idiom — so the permutation is frozen by the seed. The global
    position uses `operators/layout.py::global_row_number`: a naive
    ``row_number() OVER (ORDER BY sort_key)`` (the oracle's spelling)
    exchanges the whole corpus into ONE partition; the distributed form
    pays the same single range exchange a global sort costs, derives
    in-partition sequence numbers from `monotonically_increasing_id`'s
    (partition << 33) + row encoding over the frozen sorted layout, and
    adds per-partition offsets (a partition-count-sized broadcast).
    Identical numbering, no concentrated stage. The positioned table is
    session-cached (`_cached`) — global_row_number freezes a fresh layout
    per call, and the bench invokes headline queries 3×."""
    from data_warehouse_flink_spark.operators.layout import global_row_number

    def _build() -> DataFrame:
        keyed = _docs(spark, sf_dir).select(
            "doc_id",
            F.expr(
                "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), "
                "':42')), 1, 12), 16, 10) AS BIGINT)"
            ).alias("sort_key"),
        )
        return global_row_number(
            keyed, ["sort_key", "doc_id"], pos_col="pos"
        )

    pos = _cached(spark, sf_dir, "corpus_shuffle_pos_seed42", _build)
    return pos.select(
        "doc_id",
        "sort_key",
        "pos",
        F.expr("CAST((pos - 1) DIV 256 AS BIGINT)").alias("shard"),
        F.expr("CAST((pos - 1) % 256 AS BIGINT)").alias("pos_in_shard"),
    )


# --------------------- in-engine IVF trainer: integer-exact k-means ----
# The served IVF/PQ tiers assign against OFFLINE-trained frozen literals
# (tools/train_ivf_centroids.py → functions/ivf_centroids.py) — standard
# for serving, but the trainer itself had no oracle. These gates put the
# TRAINING loop under the hash gate: Lloyd's iterations built from plain
# DataFrame ops over integer-quantized vectors, bit-identical in any
# IEEE/ANSI engine (see functions/clustering.py for the exactness
# argument), with the DuckDB oracle running the same iterations as
# unrolled CTEs. Capability class: SURVEY §4.2 custom iterative operator
# (batch sibling of the HashToMin connected-components loop).

_KMEANS_K = 8
_KMEANS_ITERS = 3
_KMEANS_DIM = 64


def _quant_long_ctes(
    prefix: str = "",
    dim: int = _KMEANS_DIM,
    scale: int | None = None,
    vec_sql: str = "embedding",
    where_sql: str = "",
) -> str:
    """The ONE DuckDB spelling of the quantize → long-format step:
    {prefix}qv (vec_id, q = FLOOR(DOUBLE(x)·scale) per dim) and
    {prefix}ql (vec_id, dim, v). Shared by the Lloyd training chains
    (`_kmeans_ctes`) and the sampled-fit oracles' full-corpus
    assignment blocks — a second hand-copied spelling of the FLOOR
    quantization is exactly the drift `_kmeans_ctes`' scale-constant
    rule exists to prevent."""
    if scale is None:
        from data_warehouse_flink_spark.functions.clustering import (
            QUANT_SCALE,
        )

        scale = QUANT_SCALE
    P = prefix
    where = f"\n      WHERE {where_sql}" if where_sql else ""
    return f"""{P}qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform({vec_sql},
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT))
               AS q
      FROM embeddings{where}
    ), {P}ql AS MATERIALIZED (
      SELECT vec_id, i AS dim, q[i + 1] AS v
      FROM {P}qv CROSS JOIN (SELECT unnest(range({dim})) AS i) s
    )"""


def _kmeans_ctes(
    k: int = _KMEANS_K,
    dim: int = _KMEANS_DIM,
    iters: int = _KMEANS_ITERS,
    scale: int | None = None,
    prefix: str = "",
    vec_sql: str = "embedding",
    where_sql: str = "",
) -> str:
    """Unrolled-Lloyd CTE prefix: quantize → long format → init centroids
    (the k smallest vec_ids, cell index in id order) → per iteration
    assignment (integer squared L2, ties to the lower cell) and centroid
    update (FLOOR(sum/n), empty cells carry forward). Produces
    {prefix}c{iters} (final centroids) and {prefix}a{iters} (final
    assignment under them).

    `scale` defaults to `clustering.QUANT_SCALE` — the one constant the
    Spark side quantizes with; an independent literal here would let the
    two sides drift and surface only as a mystery parity mismatch.
    `prefix` namespaces every CTE so several chains (one per PQ subspace)
    can share one WITH clause; `vec_sql` is the DuckDB expression for the
    vector to quantize (a list slice for subspace training); `where_sql`
    restricts the TRAINING SET (init + every iteration) to the rows
    matching the predicate — the sampled-fit path; empty means
    full-corpus fit and leaves the generated SQL byte-identical to the
    pre-sampling spelling."""
    P = prefix
    parts = [
        _quant_long_ctes(
            prefix=prefix,
            dim=dim,
            scale=scale,
            vec_sql=vec_sql,
            where_sql=where_sql,
        ),
        f""", {P}c0 AS (
      SELECT r.cell, l.dim, l.v
      FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
            FROM {P}qv QUALIFY cell < {k}) r
      JOIN {P}ql l ON l.vec_id = r.vec_id
    )""",
    ]
    for t in range(iters + 1):
        parts.append(
            f""", {P}d{t} AS (
      SELECT l.vec_id, c.cell, SUM((l.v - c.v) * (l.v - c.v)) AS dist
      FROM {P}ql l JOIN {P}c{t} c ON l.dim = c.dim
      GROUP BY 1, 2
    ), {P}a{t} AS (
      SELECT vec_id, cell, CAST(dist AS BIGINT) AS dist FROM {P}d{t}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell) = 1
    )"""
        )
        if t < iters:
            parts.append(
                f""", {P}s{t} AS (
      SELECT a.cell, l.dim, SUM(l.v) AS s, COUNT(*) AS n
      FROM {P}a{t} a JOIN {P}ql l ON a.vec_id = l.vec_id
      GROUP BY 1, 2
    ), {P}c{t + 1} AS (
      SELECT c.cell, c.dim,
             COALESCE(CAST(FLOOR(CAST(s.s AS DOUBLE) / s.n) AS BIGINT),
                      c.v) AS v
      FROM {P}c{t} c LEFT JOIN {P}s{t} s
        ON s.cell = c.cell AND s.dim = c.dim
    )"""
            )
    return "".join(parts)


def _kmeans_qdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized (vec_id, q) table, session-cached: every Lloyd iteration
    re-scans it, and the train/assign/trained-IVF gates share it."""
    from data_warehouse_flink_spark.functions.clustering import (
        quantize_embeddings,
    )

    from data_warehouse_flink_spark.functions.clustering import QUANT_SCALE

    return _cached(
        spark,
        sf_dir,
        f"emb_quantized_{QUANT_SCALE}",
        lambda: quantize_embeddings(_embs_wide(spark, sf_dir)),
    )


_KMEANS_MODELS: dict[tuple, list[list[int]]] = {}


def _kmeans_model(
    spark: SparkSession, sf_dir: str, sampled: bool = False
) -> list[list[int]]:
    """The trained centroid matrix, once per (session, sf_dir, fit). The
    model is k·(dim+1) integers — what Lloyd's materializes on the driver
    by construction; the data never leaves the executors. `sampled=True`
    fits on the md5 hash-sample (`_KMEANS_SAMPLE_SQL`) instead of the
    full corpus — one implementation for both tiers so the fit recipe
    cannot drift between them."""
    from data_warehouse_flink_spark.functions.clustering import (
        kmeans_quantized_train,
    )

    key = (spark.sparkContext.applicationId, sf_dir) + (
        ("sampled",) if sampled else ()
    )
    model = _KMEANS_MODELS.get(key)
    if model is None:
        qdf = _kmeans_qdf(spark, sf_dir)
        if sampled:
            qdf = qdf.filter(F.expr(_KMEANS_SAMPLE_SQL))
        model = kmeans_quantized_train(
            qdf, k=_KMEANS_K, iters=_KMEANS_ITERS
        )
        _KMEANS_MODELS[key] = model
    return model


_KMEANS_TRAIN_ORACLE = f"""
    WITH {_kmeans_ctes()}, nf AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
      FROM a{_KMEANS_ITERS} GROUP BY 1
    )
    SELECT c.cell, c.dim, c.v AS value, COALESCE(nf.n, 0) AS n
    FROM c{_KMEANS_ITERS} c LEFT JOIN nf ON nf.cell = c.cell
    """


@register("embedding_kmeans_train", oracle=_KMEANS_TRAIN_ORACLE)
def embedding_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, 3 Lloyd iterations) over the corpus
    embeddings, hash-checked end-to-end against the same iterations
    unrolled as DuckDB CTEs. Output: the final centroid matrix in long
    format (cell, dim, value) with each cell's final population n.

    Scale shape per iteration: map-only assignment (centroid literals,
    no join/shuffle — `frozen_ivf_assign`'s idiom) + one k-group
    partial-agg groupBy (the MinHash 64-column-min shape) + a k-row
    driver collect of the MODEL. At 100 TB: train on a sample or accept
    k rows/iteration on the driver — either way the data-path cost is
    iters linear scans and k-row shuffles."""
    from data_warehouse_flink_spark.functions.clustering import (
        assign_quantized_cells,
    )

    cents = _kmeans_model(spark, sf_dir)
    assigned = assign_quantized_cells(_kmeans_qdf(spark, sf_dir), cents)
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("n"))
    cent_df = spark.createDataFrame(
        [
            (c, d, int(v))
            for c, vec in enumerate(cents)
            for d, v in enumerate(vec)
        ],
        "cell BIGINT, dim BIGINT, value BIGINT",
    )
    return cent_df.join(sizes, "cell", "left").select(
        "cell",
        "dim",
        "value",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
    )


_KMEANS_ASSIGN_ORACLE = f"""
    WITH {_kmeans_ctes()}
    SELECT vec_id, cell, dist FROM a{_KMEANS_ITERS}
    """


@register("embedding_kmeans_assign", oracle=_KMEANS_ASSIGN_ORACLE)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cell assignment under the in-engine-trained centroids:
    (vec_id, cell, dist) with dist the exact integer squared L2 in the
    quantized space. This is the map-only serving scan a trained IVF
    index runs over the full corpus — the trainer's output consumed the
    way production consumes it."""
    from data_warehouse_flink_spark.functions.clustering import (
        assign_quantized_cells,
    )

    return assign_quantized_cells(
        _kmeans_qdf(spark, sf_dir), _kmeans_model(spark, sf_dir)
    )


def _ivf_cosine_tail(assign_cte: str) -> str:
    """The ONE spelling of the trained-IVF serving tail: full-precision
    vectors joined to a (vec_id, cell) assignment CTE, cell-restricted
    cosine pairs, rounded, top-5 with neighbor-id tie-break. Shared by
    the full-fit (`a{iters}` in-chain assignment) and sampled-fit
    (full-corpus `fa` block) oracles."""
    return f""", v AS (
      SELECT e.vec_id,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS vecd,
             a.cell
      FROM embeddings e JOIN {assign_cte} a ON a.vec_id = e.vec_id
    ), b AS (
      SELECT vec_id, vecd, cell,
             sqrt(list_sum(list_transform(vecd, x -> x * x))) AS norm
      FROM v
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
                     i -> q.vecd[i] * c.vecd[i])) / (q.norm * c.norm), 6)
               AS cosine
      FROM b q JOIN b c ON q.cell = c.cell
       AND q.vec_id < 20 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
             AS BIGINT) AS rn
    FROM pairs
    QUALIFY rn <= 5
    """


_KNN_IVF_TRAINED_ORACLE = f"""
    WITH {_kmeans_ctes()}{_ivf_cosine_tail(f"a{_KMEANS_ITERS}")}"""


def _kmeans_ivf_assigned(
    spark: SparkSession, sf_dir: str, sampled: bool = False
) -> DataFrame:
    """(vec_id, vecd, norm, cell) full-corpus IVF index under the
    TRAINED centroids (full-fit, or the hash-sample fit with
    `sampled=True`), session-cached — the trained twin of `_ivf_assigned`
    (same schema, so `knn_ivf` serves either). Cells come from the
    integer-quantized assignment; vectors/norms stay full-precision for
    the cosine rerank."""
    from data_warehouse_flink_spark.functions.clustering import (
        assign_quantized_cells,
    )
    from data_warehouse_flink_spark.functions.similarity import with_norm

    def _build() -> DataFrame:
        cells = assign_quantized_cells(
            _kmeans_qdf(spark, sf_dir),
            _kmeans_model(spark, sf_dir, sampled=sampled),
        ).select("vec_id", "cell")
        return (
            with_norm(_embs_wide(spark, sf_dir))
            .select("vec_id", "vecd", "norm")
            .join(cells, "vec_id")
        )

    name = "kmeans_ivf_sampled_assigned" if sampled else "kmeans_ivf_assigned"
    return _cached(spark, sf_dir, name, _build)


@register("knn_ivf_trained", oracle=_KNN_IVF_TRAINED_ORACLE)
def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via the IN-ENGINE-trained IVF index
    (nprobe=1): the full train→index→serve loop under one oracle, where
    `knn_ivf` proves serving against offline frozen centroids. Same
    search kernel (`knn_ivf` with a prebuilt `assigned` table), cells
    from `embedding_kmeans_train`'s centroids."""
    from data_warehouse_flink_spark.functions.similarity import knn_ivf

    embs = _embs_wide(spark, sf_dir)
    return knn_ivf(
        embs,
        embs.filter(F.col("vec_id") < 20),
        k=5,
        assigned=_kmeans_ivf_assigned(spark, sf_dir),
    )


# --------------------- sampled-fit k-means: the 100 TB training reality -----
# At corpus scale nobody runs Lloyd's over every vector: the quantizer is
# fit on a deterministic sample and SERVED on the full corpus (the Bloom
# sizing discussion in the reference's 实时流量统计.md is the same
# pattern — approximate structures sized from samples). One predicate
# string is the single source of truth for both engines: Spark filters
# the quantized table with F.expr of this text, the oracle embeds it in
# the training CTEs' WHERE. md5 (not xxhash64) because the sample must
# hash identically in DuckDB; ~1/2 of vec_ids match.
def _md5_sample_sql(denom: int, id_sql: str = "CAST(vec_id AS STRING)") -> str:
    """Engine-portable deterministic 1/denom hash-sample predicate: the
    row survives when the md5 hex prefix falls in the first 16^L/denom
    length-L prefixes (L = shortest hex-prefix length that divides
    denom). denom=2 reproduces the frozen `_KMEANS_SAMPLE_SQL` spelling
    byte-for-byte (pinned in tests/test_round10_ops.py) — the graded
    sampled-fit oracles embed that constant, this generator exists for
    the sample-RATE sweep (VERDICT r9 #2), where the production knob is
    exactly this prefix set. Only powers of two divide a hex-prefix
    space — anything else would loop forever looking for a length, so
    it raises instead."""
    if denom < 1 or denom & (denom - 1):
        raise ValueError(f"denom must be a power of two, got {denom}")
    length = 1
    while (16 ** length) % denom != 0:
        length += 1
    count = (16 ** length) // denom
    prefixes = ", ".join(f"'{i:0{length}x}'" for i in range(count))
    return f"substr(md5({id_sql}), 1, {length}) IN ({prefixes})"


_KMEANS_SAMPLE_SQL = (
    "substr(md5(CAST(vec_id AS STRING)), 1, 1) "
    "IN ('0', '1', '2', '3', '4', '5', '6', '7')"
)


def _kmeans_sampled_model(
    spark: SparkSession, sf_dir: str
) -> list[list[int]]:
    """Centroids fit on the md5 hash-sample only — same Lloyd kernel,
    half the training scans' input at the 1/2 sample rate (linearly less
    at production rates like 1/1000). One implementation with the
    full-fit model (`_kmeans_model(sampled=True)`)."""
    return _kmeans_model(spark, sf_dir, sampled=True)


def _knn_ivf_sampled_oracle() -> str:
    """Trained-IVF serving oracle with the training chain restricted to
    the hash-sample: `t`-prefixed CTEs fit the centroids on the sample,
    then a full-corpus assignment block (fqv/fql via the shared
    `_quant_long_ctes` spelling, fd/fa — the same integer argmin the
    in-chain a{t} CTEs run, but over every vector) feeds the shared
    `_ivf_cosine_tail` top-5."""
    it = _KMEANS_ITERS
    return f"""
    WITH {_kmeans_ctes(prefix="t", where_sql=_KMEANS_SAMPLE_SQL)}, {_quant_long_ctes(prefix="f")}, fd AS (
      SELECT l.vec_id, c.cell, SUM((l.v - c.v) * (l.v - c.v)) AS dist
      FROM fql l JOIN tc{it} c ON l.dim = c.dim
      GROUP BY 1, 2
    ), fa AS (
      SELECT vec_id, cell FROM fd
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell) = 1
    ){_ivf_cosine_tail("fa")}"""


def _kmeans_ivf_sampled_assigned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-corpus IVF index under the SAMPLE-fit centroids — training
    read the sample, serving scans everything (the asymmetry that makes
    quantizer training affordable at 100 TB). One implementation with
    the full-fit index (`_kmeans_ivf_assigned(sampled=True)`)."""
    return _kmeans_ivf_assigned(spark, sf_dir, sampled=True)


@register("knn_ivf_trained_sampled", oracle=_knn_ivf_sampled_oracle())
def knn_ivf_trained_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF index whose centroids were fit on a
    deterministic md5 hash-SAMPLE of the corpus and served over all of it
    (VERDICT r8 #4) — the production shape at 100 TB, where full-fit
    Lloyd's is the thing you cannot afford. Same serving kernel as
    `knn_ivf_trained`; the recall audit (`knn_recall_report`) carries a
    row for this tier so sampled-fit vs full-fit recall is MEASURED, not
    assumed."""
    from data_warehouse_flink_spark.functions.similarity import knn_ivf

    embs = _embs_wide(spark, sf_dir)
    return knn_ivf(
        embs,
        embs.filter(F.col("vec_id") < 20),
        k=5,
        assigned=_kmeans_ivf_sampled_assigned(spark, sf_dir),
    )


# --------------------- incremental near-dedup: new batch vs frozen corpus ----
# One source of truth for the gate's parameters: the Spark side builds its
# is_batch Column from the SAME SQL text the oracle embeds (F.expr), and
# both sides take the threshold from the constant — the drift-proofing
# the parameterized _minhash_lsh_oracle established for the symmetric gate.
_INC_THRESHOLD = 0.3
_INC_BATCH_SQL = "doc_id % 10 = 7"


def _minhash_incremental_oracle(
    threshold: float = _INC_THRESHOLD, batch_sql: str = _INC_BATCH_SQL
) -> str:
    """Generated oracle for the asymmetric batch-vs-ledger pipeline:
    shared signature/band CTEs, candidates restricted to batch × corpus,
    exact-Jaccard verify, best-match rank per batch doc."""

    def pred(alias: str) -> str:
        return batch_sql.replace("doc_id", f"{alias}.doc_id")

    return f"""
    WITH {_minhash_bands_sql()}, cand AS (
      SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS match_id
      FROM bands b JOIN bands c
        ON b.band = c.band AND b.bucket = c.bucket
       AND ({pred('b')}) AND NOT ({pred('c')})
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT cd.doc_id, cd.match_id, count(*) AS c
      FROM cand cd
      JOIN grams ga ON ga.doc_id = cd.doc_id
      JOIN grams gb ON gb.doc_id = cd.match_id AND ga.gram = gb.gram
      GROUP BY 1, 2
    ), scored AS (
      SELECT cm.doc_id, cm.match_id,
             ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      FROM common cm
      JOIN sizes sa ON cm.doc_id = sa.doc_id
      JOIN sizes sb ON cm.match_id = sb.doc_id
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {threshold}
    )
    SELECT doc_id, match_id, jaccard
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY jaccard DESC, match_id) = 1
    """


@register("doc_minhash_incremental", oracle=_minhash_incremental_oracle())
def doc_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: a NEW batch (doc_id % 10 = 7 stands in for
    today's crawl increment) deduped against the FROZEN corpus (the other
    90%) without re-pairing the corpus against itself — the daily-ingest
    shape, where the corpus's LSH band ledger is precomputed state and
    only the increment is shingled and signed. Output: each batch doc
    that near-duplicates corpus content, with its best corpus match
    (highest exact Jaccard, ties to the lower match_id).

    Scale shape: the candidate join keys batch bands against the corpus
    band LEDGER on (band, bucket) — cost is proportional to the
    increment and its collisions, never corpus², and the corpus side is
    a stored table in production (exactly the state-table idiom
    `streaming/curation.py::near_dedup_stream` runs continuously;
    this is its batch, oracle-graded twin). Verification is exact
    Jaccard on candidates only. Intra-batch duplicates are the existing
    `doc_minhash_lsh` applied to the increment; this gate proves the
    asymmetric path. md5 gram hash = the oracle tier, as in
    `doc_minhash_lsh`; production uses xxhash64 signatures.
    """
    from data_warehouse_flink_spark.functions.dedup import (
        incremental_minhash_dedup,
    )

    return incremental_minhash_dedup(
        _trigram_grams(spark, sf_dir),
        is_batch=F.expr(_INC_BATCH_SQL),
        threshold=_INC_THRESHOLD,
        signatures=_minhash_sigs(spark, sf_dir, "md5"),
    )



# --------------------- in-engine PQ codebook trainer (per-subspace Lloyd) ----
# The same closure for the OTHER frozen-literal trainer: the PQ codebooks
# (functions/pq_codebooks.py, trained offline by tools/train_pq_codebooks.py)
# get an in-engine, oracle-graded training twin. Product quantization
# trains M independent k-means problems — one per subspace slice — so the
# integer-exact Lloyd machinery applies verbatim to each slice; the DuckDB
# oracle runs M prefixed CTE chains in one WITH clause.

_PQ_TRAIN_M = 8
_PQ_MODELS: dict[tuple, list[list[list[int]]]] = {}
_PQ_TRAIN_SUB_DIM = 8
_PQ_TRAIN_K = 16
_PQ_TRAIN_ITERS = 2


def _pq_sub_qdf(spark: SparkSession, sf_dir: str, m: int) -> DataFrame:
    """Subspace m's quantized slice of the shared quantized table —
    slicing the quantized full vector equals quantizing the slice
    (quantization is elementwise), which is what lets all M trainers
    reuse the ONE cached `_kmeans_qdf` materialization."""
    lo = m * _PQ_TRAIN_SUB_DIM + 1
    return _kmeans_qdf(spark, sf_dir).select(
        "vec_id",
        F.expr(f"slice(q, {lo}, {_PQ_TRAIN_SUB_DIM})").alias("q"),
    )


def _pq_train_model(
    spark: SparkSession, sf_dir: str, sampled: bool = False
) -> list[list[list[int]]]:
    """[subspace][code][dim] trained codebooks, once per
    (session, sf_dir, fit). `sampled=True` fits each subspace on the md5
    hash-sample (`_KMEANS_SAMPLE_SQL`) — one implementation for both
    tiers so the fit recipe cannot drift.

    The M subproblems are independent and FUSED: each iteration is one
    corpus scan (per-row explode into M (m, cell, slice) structs — a
    repack, not a blowup — feeding one M·k-group partial agg; plan
    guarded to a single Exchange). Bit-identical to the sequential
    per-subspace path (pinned in tests/test_round9_ops.py), which is
    why the DuckDB oracle stays the unrolled per-subspace CTE chains."""
    from data_warehouse_flink_spark.functions.clustering import (
        pq_kmeans_fused_train,
    )

    key = (spark.sparkContext.applicationId, sf_dir) + (
        ("sampled",) if sampled else ()
    )
    model = _PQ_MODELS.get(key)
    if model is None:
        qdf = _kmeans_qdf(spark, sf_dir)
        if sampled:
            qdf = qdf.filter(F.expr(_KMEANS_SAMPLE_SQL))
        model = pq_kmeans_fused_train(
            qdf,
            m_subspaces=_PQ_TRAIN_M,
            sub_dim=_PQ_TRAIN_SUB_DIM,
            k=_PQ_TRAIN_K,
            iters=_PQ_TRAIN_ITERS,
        )
        _PQ_MODELS[key] = model
    return model


def _pq_train_oracle() -> str:
    chains = ", ".join(
        _kmeans_ctes(
            k=_PQ_TRAIN_K,
            dim=_PQ_TRAIN_SUB_DIM,
            iters=_PQ_TRAIN_ITERS,
            prefix=f"p{m}_",
            vec_sql=(
                f"embedding[{m * _PQ_TRAIN_SUB_DIM + 1}:"
                f"{(m + 1) * _PQ_TRAIN_SUB_DIM}]"
            ),
        )
        for m in range(_PQ_TRAIN_M)
    )
    T = _PQ_TRAIN_ITERS
    arms = "\n      UNION ALL ".join(
        f"""SELECT CAST({m} AS BIGINT) AS m, c.cell AS code, c.dim,
             c.v AS value, COALESCE(nf{m}.n, 0) AS n
      FROM p{m}_c{T} c LEFT JOIN nf{m} ON nf{m}.cell = c.cell"""
        for m in range(_PQ_TRAIN_M)
    )
    sizes = ", ".join(
        f"""nf{m} AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
      FROM p{m}_a{T} GROUP BY 1
    )"""
        for m in range(_PQ_TRAIN_M)
    )
    return f"""
    WITH {chains}, {sizes}
    {arms}
    """


@register("embedding_pq_train", oracle=_pq_train_oracle())
def embedding_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine product-quantization codebook training: M=8 independent
    integer-exact Lloyd runs (k=16, 2 iterations) over the subspace
    slices, hash-checked against the same M chains unrolled as DuckDB
    CTEs. Output: the trained codebooks in long format
    (m, code, dim, value) with each code's final population n — the
    in-engine twin of the offline `tools/train_pq_codebooks.py` whose
    frozen output serves `knn_pq`/`knn_ivf_pq`.

    Scale: per subspace per iteration the work is the k-means map-only
    assignment + 16-group partial agg over an 8-dim slice; M subspaces
    fuse into one scan per iteration in production (rows tagged with m).
    The model is M·k·(dim+1) integers on the driver."""
    from data_warehouse_flink_spark.functions.clustering import (
        assign_quantized_cells,
    )

    books = _pq_train_model(spark, sf_dir)
    out = None
    for m, book in enumerate(books):
        sizes = (
            assign_quantized_cells(_pq_sub_qdf(spark, sf_dir, m), book)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .withColumnRenamed("cell", "code")
        )
        cent_df = spark.createDataFrame(
            [
                (m, code, d, int(v))
                for code, vec in enumerate(book)
                for d, v in enumerate(vec)
            ],
            "m BIGINT, code BIGINT, dim BIGINT, value BIGINT",
        )
        part = cent_df.join(sizes, "code", "left").select(
            "m",
            "code",
            "dim",
            "value",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        )
        out = part if out is None else out.unionAll(part)
    return out


# --------------------- trained-PQ serving: integer-exact ADC scan ----
def _adc_tail(a_name, d_name, k: int = 5) -> str:
    """The ONE spelling of the ADC serving tail: per-subspace encodings
    joined into (vec_id, c0..c{M-1}), query-anchored lookup joins, exact
    BIGINT distance sum, top-k with neighbor-id tie-break. `a_name(m)` /
    `d_name(m)` name each subspace's assignment / distance CTE — the
    full-fit oracle passes the in-chain p{m}_a/d names, the sampled-fit
    oracle its full-corpus g{m}a/g{m}d blocks."""
    M = _PQ_TRAIN_M
    enc_joins = " ".join(
        f"JOIN {a_name(m)} a{m} ON a{m}.vec_id = a0.vec_id"
        for m in range(1, M)
    )
    enc_cols = ", ".join(f"a{m}.cell AS c{m}" for m in range(M))
    d_joins = " ".join(
        f"JOIN {d_name(m)} d{m} ON d{m}.vec_id = q.vec_id"
        f" AND d{m}.cell = e.c{m}"
        for m in range(M)
    )
    adc = " + ".join(f"d{m}.dist" for m in range(M))
    return f""", enc AS (
      SELECT a0.vec_id, {enc_cols}
      FROM {a_name(0)} a0 {enc_joins}
    ), pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST({adc} AS BIGINT) AS adc_dist
      FROM enc q JOIN enc e ON q.vec_id < 20 AND e.vec_id <> q.vec_id
      {d_joins}
    )
    SELECT query_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
             AS BIGINT) AS rn
    FROM pairs
    QUALIFY rn <= {k}
    """


def _knn_pq_trained_oracle(k: int = 5) -> str:
    """Generated oracle for ADC search under the TRAINED codebooks: the
    training chains' final-assignment CTEs ARE the encoding (p{m}_a2 =
    each vector's nearest code per subspace) and their distance CTEs
    (p{m}_d2) ARE the ADC lookup tables, so the oracle derives the
    codebooks it serves — nothing is frozen at generation time. All
    arithmetic stays in the integer quantized space (exact; no rounding
    discipline needed, unlike the double-space frozen-PQ oracle)."""
    T = _PQ_TRAIN_ITERS
    chains = ", ".join(
        _kmeans_ctes(
            k=_PQ_TRAIN_K,
            dim=_PQ_TRAIN_SUB_DIM,
            iters=T,
            prefix=f"p{m}_",
            vec_sql=(
                f"embedding[{m * _PQ_TRAIN_SUB_DIM + 1}:"
                f"{(m + 1) * _PQ_TRAIN_SUB_DIM}]"
            ),
        )
        for m in range(_PQ_TRAIN_M)
    )
    tail = _adc_tail(
        lambda m: f"p{m}_a{T}", lambda m: f"p{m}_d{T}", k=k
    )
    return f"""
    WITH {chains}{tail}"""


def _pq_trained_codes(
    spark: SparkSession, sf_dir: str, sampled: bool = False
) -> DataFrame:
    """(vec_id, code0..code7) for the FULL corpus under the trained
    codebooks (full-fit, or the hash-sample fit with `sampled=True`),
    session-cached — the compressed corpus and ONLY the compressed
    corpus: the 8×16 ADC lookup arrays are query-side
    (`pq_query_lookup`, computed in a tiny separate projection for the
    20 query rows), so the checkpoint never materializes
    per-corpus-vector lookup tables the serving scan would not read."""
    from data_warehouse_flink_spark.functions.clustering import (
        pq_trained_codes,
    )

    return _cached(
        spark,
        sf_dir,
        "pq_sampled_codes" if sampled else "pq_trained_codes",
        lambda: pq_trained_codes(
            _kmeans_qdf(spark, sf_dir),
            _pq_train_model(spark, sf_dir, sampled=sampled),
            sub_dim=_PQ_TRAIN_SUB_DIM,
        ),
    )


@register("knn_pq_trained", oracle=_knn_pq_trained_oracle())
def knn_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 by ADC over the IN-ENGINE-trained PQ codebooks —
    the PQ train→encode→serve loop under one oracle, completing what
    `knn_ivf_trained` did for the coarse quantizer. The corpus side is
    scanned as CODES ONLY (8 small ints per vector — the PQ scale win);
    each query carries its 8×16 integer ADC lookup arrays and is
    broadcast; a candidate's distance is 8 array lookups summed in exact
    BIGINT arithmetic, so no rounding discipline is needed anywhere
    (unlike the double-space frozen-PQ path)."""
    from data_warehouse_flink_spark.functions.clustering import (
        adc_topk,
        pq_query_lookup,
    )

    lookups = pq_query_lookup(
        _kmeans_qdf(spark, sf_dir).filter(F.col("vec_id") < 20),
        _pq_train_model(spark, sf_dir),
        sub_dim=_PQ_TRAIN_SUB_DIM,
    )
    return adc_topk(
        _pq_trained_codes(spark, sf_dir),
        lookups,
        k=5,
        m_subspaces=_PQ_TRAIN_M,
    )


# --------------------- sampled-fit PQ: codebooks from the hash-sample ----
def _pq_sampled_model(
    spark: SparkSession, sf_dir: str
) -> list[list[list[int]]]:
    """PQ codebooks fit on the md5 hash-sample only (the
    `_kmeans_sampled_model` asymmetry applied to the other quantizer
    family): per-subspace Lloyd runs read the sampled slice, encoding
    and ADC serving scan the full corpus. One implementation with the
    full-fit trainer (`_pq_train_model(sampled=True)`)."""
    return _pq_train_model(spark, sf_dir, sampled=True)


def _knn_pq_sampled_oracle(k: int = 5) -> str:
    """ADC search under SAMPLE-fit codebooks: the training chains carry
    the hash-sample WHERE, so their in-chain assignment/distance CTEs
    cover only the sample — a full-corpus quantized long table (gqv/gql)
    plus per-subspace full assignment (g{m}a) and distance (g{m}d)
    blocks rebuild the encoding and the query lookup tables over EVERY
    vector (queries need not be in the sample). Quantization spelling
    from `_quant_long_ctes`, serving tail from `_adc_tail` — one copy
    of each."""
    M, T, SD = _PQ_TRAIN_M, _PQ_TRAIN_ITERS, _PQ_TRAIN_SUB_DIM
    chains = ", ".join(
        _kmeans_ctes(
            k=_PQ_TRAIN_K,
            dim=SD,
            iters=T,
            prefix=f"s{m}_",
            vec_sql=f"embedding[{m * SD + 1}:{(m + 1) * SD}]",
            where_sql=_KMEANS_SAMPLE_SQL,
        )
        for m in range(M)
    )
    full = _quant_long_ctes(prefix="g", dim=M * SD)
    blocks = ", ".join(
        f"""g{m}d AS (
      SELECT l.vec_id, c.cell, SUM((l.v - c.v) * (l.v - c.v)) AS dist
      FROM gql l JOIN s{m}_c{T} c ON c.dim = l.dim - {m * SD}
      WHERE l.dim >= {m * SD} AND l.dim < {(m + 1) * SD}
      GROUP BY 1, 2
    ), g{m}a AS (
      SELECT vec_id, cell FROM g{m}d
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell) = 1
    )"""
        for m in range(M)
    )
    tail = _adc_tail(lambda m: f"g{m}a", lambda m: f"g{m}d", k=k)
    return f"""
    WITH {chains}, {full}, {blocks}{tail}"""


def _pq_sampled_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, code0..code7) for the FULL corpus under the sample-fit
    codebooks — `_pq_trained_codes(sampled=True)`, one scan shape for
    both models."""
    return _pq_trained_codes(spark, sf_dir, sampled=True)


@register("knn_pq_trained_sampled", oracle=_knn_pq_sampled_oracle())
def knn_pq_trained_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 under PQ codebooks fit on the deterministic md5
    hash-sample and served over the full corpus — the PQ half of the
    VERDICT r8 #4 sampled-training directive (`knn_ivf_trained_sampled`
    is the coarse-quantizer half). Same integer-exact serving kernel as
    `knn_pq_trained`; the recall audit measures this tier beside the
    full-fit and frozen PQ rows."""
    from data_warehouse_flink_spark.functions.clustering import (
        adc_topk,
        pq_query_lookup,
    )

    lookups = pq_query_lookup(
        _kmeans_qdf(spark, sf_dir).filter(F.col("vec_id") < 20),
        _pq_sampled_model(spark, sf_dir),
        sub_dim=_PQ_TRAIN_SUB_DIM,
    )
    return adc_topk(
        _pq_sampled_codes(spark, sf_dir),
        lookups,
        k=5,
        m_subspaces=_PQ_TRAIN_M,
    )


_register_knn_recall_report()


def sampled_fit_recall_sweep(
    embs: DataFrame,
    denominators: tuple[int, ...] = (2, 4, 16, 64),
    k: int = 5,
    n_queries: int = 20,
    brute: DataFrame | None = None,
) -> list[tuple]:
    """Sample-RATE sweep for the sampled-fit quantizer tiers (VERDICT r9
    #2): for each 1/denom md5 hash-sample rate, fit the IVF centroids
    and the PQ codebooks on the sample, serve the FULL corpus, and
    measure recall@k against exact brute-force cosine — the
    `knn_recall_report` harness swept along the training-sample axis.
    Local measurement only (NOT a registry entry): the registered gates
    grade the frozen 1/2-rate tiers; this answers "how far down can the
    rate go" for SCALING.md, on real sf tables or the 500 k-vector
    synthetic smoke corpus alike (`embs` is any (vec_id, embedding)
    frame).

    Returns [(tier, denom, sample_n, n_hits, n_possible, recall_ppm)];
    recall_ppm is None when that rate is INADMISSIBLE for the tier —
    the sample has fewer rows than the codebook k, so Lloyd init raises
    (at production corpus sizes the binding constraint is statistical,
    not existential, which is why SCALING.md states minimum rates per
    corpus size, not one global number).

    Scale shape per rate: training scans ∝ sample size (the whole
    point), one map-only full-corpus assignment + cell-restricted (IVF)
    or compressed-scan (PQ/ADC) serve, and top-5-list-proportional
    audit joins — identical to the graded tiers' plans."""
    from data_warehouse_flink_spark.functions.clustering import (
        adc_topk,
        assign_quantized_cells,
        kmeans_quantized_train,
        pq_kmeans_fused_train,
        pq_query_lookup,
        pq_trained_codes,
        quantize_embeddings,
    )
    from data_warehouse_flink_spark.functions.similarity import (
        knn_bruteforce,
        knn_ivf,
        with_norm,
    )

    # every fit re-scans the quantized table and every serve re-scans the
    # corpus — materialize each once for the whole sweep
    qdf = quantize_embeddings(embs).localCheckpoint(eager=True)
    queries = embs.filter(F.col("vec_id") < n_queries)
    if brute is None:
        brute = (
            knn_bruteforce(embs, queries, k=k)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )
    n_possible = brute.count()
    if n_possible == 0:
        # no query ids below n_queries (or an empty passed-in brute
        # frame): every recall would divide by zero — misconfiguration,
        # not a measurable sweep point
        raise ValueError(
            f"no brute-force ground truth: 0 rows for the first "
            f"{n_queries} query ids — check vec_id coverage of `embs`"
        )

    def hits(top: DataFrame) -> int:
        return (
            top.select("query_id", "neighbor_id")
            .join(brute, ["query_id", "neighbor_id"], "left_semi")
            .count()
        )

    norms = with_norm(embs).select("vec_id", "vecd", "norm")
    rows: list[tuple] = []
    for denom in denominators:
        sample = qdf.filter(F.expr(_md5_sample_sql(denom)))
        if denom > 4:
            # tiny training inputs get re-scanned iters+1 times —
            # materialize; at 1/2 and 1/4 the filter is cheaper than
            # the checkpoint write
            sample = sample.localCheckpoint(eager=True)
        sample_n = sample.count()
        # Inadmissibility is checked EXPLICITLY (sample smaller than the
        # codebook k) rather than by catching the trainers' ValueError:
        # the trainers also raise ValueError for misconfiguration (e.g.
        # pq_kmeans_fused_train's dim-vs-m_subspaces*sub_dim guard), and
        # those must fail the sweep loudly, not be reported as an
        # inadmissible rate.
        if sample_n < _KMEANS_K:
            ivf_row = (
                "ivf_trained_sampled", denom, sample_n,
                None, n_possible, None,
            )
        else:
            cents = kmeans_quantized_train(
                sample, k=_KMEANS_K, iters=_KMEANS_ITERS
            )
            assigned = norms.join(
                assign_quantized_cells(qdf, cents).select("vec_id", "cell"),
                "vec_id",
            )
            n_hits = hits(knn_ivf(embs, queries, k=k, assigned=assigned))
            ivf_row = (
                "ivf_trained_sampled", denom, sample_n,
                n_hits, n_possible, n_hits * 1_000_000 // n_possible,
            )
        rows.append(ivf_row)
        if sample_n < _PQ_TRAIN_K:
            pq_row = (
                "pq_trained_sampled", denom, sample_n,
                None, n_possible, None,
            )
        else:
            books = pq_kmeans_fused_train(
                sample,
                m_subspaces=_PQ_TRAIN_M,
                sub_dim=_PQ_TRAIN_SUB_DIM,
                k=_PQ_TRAIN_K,
                iters=_PQ_TRAIN_ITERS,
            )
            codes = pq_trained_codes(qdf, books, sub_dim=_PQ_TRAIN_SUB_DIM)
            lookups = pq_query_lookup(
                qdf.filter(F.col("vec_id") < n_queries),
                books,
                sub_dim=_PQ_TRAIN_SUB_DIM,
            )
            n_hits = hits(
                adc_topk(codes, lookups, k=k, m_subspaces=_PQ_TRAIN_M)
            )
            pq_row = (
                "pq_trained_sampled", denom, sample_n,
                n_hits, n_possible, n_hits * 1_000_000 // n_possible,
            )
        rows.append(pq_row)
    return rows


# SCALING.md's minimum-admissible rules as data (round-10 sweep):
# family -> (size_floor_rows, recall_floor_ppm). IVF is sample-rate
# robust, so its binding constraint is absolute sample size with margin
# over the existential floor (128·k). PQ overfits sample noise long
# before the existential floor, so it gets BOTH a per-book size floor
# (16·k) and a mandatory measured-recall acceptance at the candidate
# rate. The recall floors are the pinned operating-point values
# (tests/test_round10_ops.py): IVF ≥ 250k, PQ ≥ 80k ppm.
_SAMPLED_FIT_FLOORS: dict[str, tuple[int, int]] = {
    "ivf": (128 * _KMEANS_K, 250_000),
    "pq": (16 * _PQ_TRAIN_K, 80_000),
}


def sampled_fit_admissible(
    embs: DataFrame,
    denom: int,
    family: str,
    floor_ppm: int | None = None,
    size_floor: int | None = None,
    k: int = 5,
    n_queries: int = 20,
    brute: DataFrame | None = None,
) -> dict:
    """Executable pre-serve acceptance gate for a sampled-fit quantizer
    (VERDICT r10 #2): is fitting `family` ("ivf" | "pq") on a 1/`denom`
    md5 hash-sample of `embs` admissible for serving? Wraps
    `sampled_fit_recall_sweep` at the single candidate rate and grades
    the result against SCALING.md's stated minimum-admissible rules
    (`_SAMPLED_FIT_FLOORS`): the family's absolute sample-size floor AND
    a measured recall@k floor at that exact rate — the "run
    `knn_recall_report` at the candidate rate before serving" rule as a
    callable check instead of prose.

    `floor_ppm` / `size_floor` override the SCALING.md defaults (e.g.
    small-SF harness corpora sit below the production size floors by
    construction); production callers should leave both at None.

    Returns a verdict dict: {family, denom, sample_n, recall_ppm,
    size_floor, floor_ppm, admissible, reason}. `reason` is "" when
    admissible, else the first failed criterion ("sample below
    existential floor (k)", "sample below size floor", "recall below
    floor"). Cost: one sampled fit + one full-corpus serve + the brute
    baseline (pass `brute` to amortize it across calls) — exactly what
    the rule demands you measure before trusting the rate."""
    if family not in _SAMPLED_FIT_FLOORS:
        raise ValueError(f"unknown family {family!r}: want 'ivf' or 'pq'")
    default_size, default_ppm = _SAMPLED_FIT_FLOORS[family]
    size_floor = default_size if size_floor is None else size_floor
    floor_ppm = default_ppm if floor_ppm is None else floor_ppm
    rows = sampled_fit_recall_sweep(
        embs, denominators=(denom,), k=k, n_queries=n_queries, brute=brute
    )
    tier = f"{family}_trained_sampled"
    (_t, _d, sample_n, _hits, _possible, recall_ppm) = next(
        r for r in rows if r[0] == tier
    )
    if recall_ppm is None:
        reason = "sample below existential floor (k)"
    elif sample_n < size_floor:
        reason = "sample below size floor"
    elif recall_ppm < floor_ppm:
        reason = "recall below floor"
    else:
        reason = ""
    return {
        "family": family,
        "denom": denom,
        "sample_n": sample_n,
        "recall_ppm": recall_ppm,
        "size_floor": size_floor,
        "floor_ppm": floor_ppm,
        "admissible": reason == "",
        "reason": reason,
    }


# --------------------- in-engine BPE merge trainer (pair-count loop) ----
_BPE_TRAIN_MERGES = 8
# DuckDB spelling of tools/train_bpe.py's BASE_REPR: words char-spaced,
# joined by the '|' boundary token merges never cross, flanked by spaces.
_BPE_REPR_SQL = (
    "' ' || array_to_string(list_transform(string_split(text, ' '), "
    "w -> regexp_replace(w, '(.)', '\\1 ', 'g')), '| ')"
)


def _bpe_train_oracle(
    n_merges: int = _BPE_TRAIN_MERGES, text_sql: str = "text"
) -> str:
    """Unrolled pair-count loop (Sennrich et al. 2016): per rank, count
    adjacent non-boundary symbol pairs over the current corpus
    representation, take the argmax (ties: lower left, then lower right
    symbol — binary collation in both engines on this ASCII-ish data),
    rewrite the corpus with the global non-overlapping
    ``' a b ' -> ' ab '`` replacement (DuckDB replace == Spark replace),
    repeat. The merge-application convention is EXACTLY the one the
    frozen `functions/bpe_merges.py` table was trained with
    (tools/train_bpe.py), which is what lets the sf0.001 pin assert
    trained == MERGES[:n].

    `text_sql` substitutes another text expression over the documents
    table for the raw `text` column — the batched gate trains on its
    designed fixture corpus (`_BPE_BATCH_FIXTURE_SQL`); the default
    leaves the generated SQL byte-identical to the pre-parameter
    spelling that graded `corpus_bpe_train`."""
    repr_sql = _BPE_REPR_SQL.replace(
        "string_split(text", f"string_split({text_sql}"
    )
    # If _BPE_REPR_SQL's spelling ever drifts, the replace() silently
    # no-ops and a non-default text_sql would train the oracle on raw
    # `text` while the Spark side trains on the fixture corpus — assert
    # the substitution actually happened.
    if text_sql != "text":
        assert repr_sql != _BPE_REPR_SQL, (
            "text_sql substitution no-oped: _BPE_REPR_SQL no longer "
            "contains 'string_split(text'"
        )
    parts = [f"r0 AS (\n      SELECT {repr_sql} AS r FROM documents\n    )"]
    for t in range(n_merges):
        parts.append(
            f""", pc{t} AS (
      SELECT t[i] AS a, t[i + 1] AS b, count(*) AS c
      FROM (SELECT string_split(trim(r), ' ') AS t FROM r{t})
      CROSS JOIN LATERAL
        (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
      WHERE t[i] <> '|' AND t[i + 1] <> '|'
      GROUP BY 1, 2
    ), m{t} AS (
      SELECT a, b, CAST(c AS BIGINT) AS c
      FROM pc{t} ORDER BY c DESC, a, b LIMIT 1
    ), r{t + 1} AS (
      SELECT replace(r, ' ' || a || ' ' || b || ' ',
                     ' ' || a || b || ' ') AS r
      FROM r{t} CROSS JOIN m{t}
    )"""
        )
    arms = "\n      UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS rank, a AS lhs, b AS rhs, c AS cnt"
        f" FROM m{t}"
        for t in range(n_merges)
    )
    return f"""
    WITH {"".join(parts)}
    {arms}
    """


@register("corpus_bpe_train", oracle=_bpe_train_oracle())
def corpus_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE merge-table training: the classic pair-counting loop
    as distributed aggregations, hash-checked against the same loop
    unrolled as DuckDB CTEs — the THIRD frozen-literal trainer closed
    (IVF centroids and PQ codebooks got theirs earlier this round;
    `functions/bpe_merges.py` is this loop's offline output via
    tools/train_bpe.py). Output: the first 8 merges as
    (rank, lhs, rhs, cnt).

    Scale shape per rank: one pair-explode + high-reduction groupBy
    (map-side combine; symbol-pair cardinality, not corpus size), a
    1-ROW driver collect (the model), and a map-only corpus rewrite.
    The rewritten representation is checkpointed per rank — at 100 TB
    you train on a sample (the standard recipe, and exactly what the
    offline tool does: sf0.001) while ENCODING at scale stays the
    frozen-merge scan `doc_bpe_encode` proves.

    Pinned at sf0.001: trained == frozen MERGES[:8] — the gate
    reproduces the committed literals from the same corpus
    (tests/test_round8_ops.py). The loop itself lives in
    `functions/text.py::bpe_train_merges`, SHARED with the offline tool
    (tools/train_bpe.py) so the two cannot drift; see its docstring for
    the per-rank scale shape (no per-rank corpus materialization — a
    chained map-only replace over one checkpointed base)."""
    from data_warehouse_flink_spark.functions.text import bpe_train_merges

    rows = bpe_train_merges(_docs(spark, sf_dir), _BPE_TRAIN_MERGES)
    return spark.createDataFrame(
        rows, "rank BIGINT, lhs STRING, rhs STRING, cnt BIGINT"
    )


# One engine-portable spelling (the _KMEANS_SAMPLE_SQL discipline) of the
# batched gate's designed fixture corpus: 8 two-character words over 16
# DISTINCT characters, word picked by doc_id % 8, repeated 1 + doc_id % 3
# times. Every countable pair is therefore one of 8 pairwise
# symbol-DISJOINT merges (cross-word adjacencies always touch the '|'
# boundary token), so the greedy epoch accept can never defer a
# candidate and batched(batch_size=4) provably equals the sequential
# Sennrich loop the oracle CTEs unroll — counts of disjoint pairs are
# invariant under each other's merges. Parity of the expression itself
# (trim/repeat/CASE/%/|| behave identically in Spark SQL and DuckDB) is
# pinned in tests/test_round10_ops.py.
_BPE_BATCH_FIXTURE_SQL = (
    "trim(repeat(CASE CAST(doc_id % 8 AS INT) "
    "WHEN 0 THEN 'ax' WHEN 1 THEN 'by' WHEN 2 THEN 'cz' WHEN 3 THEN 'dw' "
    "WHEN 4 THEN 'ev' WHEN 5 THEN 'fu' WHEN 6 THEN 'gs' WHEN 7 THEN 'hr' "
    "END || ' ', CAST(1 + doc_id % 3 AS INT)))"
)


@register(
    "corpus_bpe_train_batched",
    oracle=_bpe_train_oracle(text_sql=_BPE_BATCH_FIXTURE_SQL),
)
def corpus_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCHED BPE trainer under the driver's hash gate (VERDICT r9
    #3): `bpe_train_merges_batched` at batch_size=4 — two epochs, greedy
    multi-accept, chained map-only rewrites, mid-run checkpoint — over a
    designed disjoint-head corpus derived deterministically from the
    documents table (`_BPE_BATCH_FIXTURE_SQL`, one spelling shared
    verbatim by the Spark fixture projection and the oracle's r0 CTE).
    Disjoint heads make batched == sequential BY CONSTRUCTION, so the
    oracle stays the same unrolled merge-CTE chain that grades
    `corpus_bpe_train`; conflict-deferral semantics on adversarial
    corpora are library-pinned in tests/test_round9_ops.py. Output
    schema matches the sequential gate: (rank, lhs, rhs, cnt).

    Scale shape: n_merges/batch_size corpus count-scans instead of
    n_merges (the 32 k-vocabulary operating range — SCALING.md round 9
    measured 3.4× at 1 M docs / 16 merges), each scan one pair-explode +
    high-reduction groupBy with a ≤(4·batch+8)-row candidate collect."""
    from data_warehouse_flink_spark.functions.text import (
        bpe_train_merges_batched,
    )

    designed = _docs(spark, sf_dir).select(
        F.expr(_BPE_BATCH_FIXTURE_SQL).alias("text")
    )
    rows = bpe_train_merges_batched(
        designed, _BPE_TRAIN_MERGES, batch_size=4
    )
    return spark.createDataFrame(
        rows, "rank BIGINT, lhs STRING, rhs STRING, cnt BIGINT"
    )
