"""Similarity search over embedding columns (`array<float>`).

Baseline: brute-force cosine top-k (exact; O(n·q) dot products, all JVM
expressions — `F.aggregate`/`F.zip_with`, no Python). Scale paths:
- label/IVF bucketing: restrict pairing to a coarse partition (here the
  `label` column stands in for an IVF cell assignment);
- random-hyperplane LSH: deterministic seeded planes → sign-bit bucket key;
  only same-bucket candidates are ranked.

Float determinism for the oracle: dots/norms are computed in DOUBLE and the
cosine is rounded to 6 decimals *before* ranking, with vec_id tie-breaks, so
engine-side summation-order differences (≪1e-9) cannot change the output.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehouse_flink_spark.operators.topn import top_n_per_group


def top_k_neighbors(pairs: DataFrame, score: Column, k: int) -> DataFrame:
    """The k best neighbors per query by `score`, ties to the lower
    neighbor id."""
    return top_n_per_group(
        pairs, ["query_id"], [score, F.asc("neighbor_id")], k
    )


def _as_double(col: str) -> Column:
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def with_norm(df: DataFrame) -> DataFrame:
    """Add `vecd` (double array) and `norm` columns."""
    return df.withColumn("vecd", _as_double("embedding")).withColumn(
        "norm", F.sqrt(_dot("vecd", "vecd"))
    )


def cosine_rounded(left_vec: str, right_vec: str, left_norm: str, right_norm: str) -> Column:
    dot = F.expr(
        f"aggregate(zip_with({left_vec}, {right_vec}, (x, y) -> x * y), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return F.round(dot / (F.col(left_norm) * F.col(right_norm)), 6)


def knn_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The corpus side is the big side: it streams partition-local; queries are
    broadcast. One shuffle for the per-query rank.
    """
    corpus = with_norm(embeddings).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vecd").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    qs = with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vecd").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    cos = cosine_rounded("qvec", "cvec", "qnorm", "cnorm").alias("cosine")
    pairs = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos)
    )
    return top_k_neighbors(pairs, F.desc("cosine"), k)


def bucketed_dedup_cosine(embeddings: DataFrame, threshold: float) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, paired only within a
    coarse bucket (IVF-cell stand-in) — the scale-path contract: candidate
    generation is bucket-local, so cost is Σ_bucket |bucket|², not n²."""
    vecs = with_norm(embeddings).select(
        F.col("vec_id"), F.col("label").alias("bucket"), "vecd", "norm"
    )
    a = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("bucket"),
        F.col("vecd").alias("veca"),
        F.col("norm").alias("norma"),
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("bucket"),
        F.col("vecd").alias("vecb"),
        F.col("norm").alias("normb"),
    )
    cos = cosine_rounded("veca", "vecb", "norma", "normb").alias("cosine")
    return (
        a.join(b, on="bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("bucket", "vec_a", "vec_b", cos)
        .filter(F.col("cosine") >= threshold)
    )


def hyperplanes(n_planes: int = 8, dim: int = 64) -> "np.ndarray":
    """The seed-42 hyperplane matrix — shared by the Spark bucket expression
    and the generated DuckDB oracle so both embed the same literals."""
    return np.random.default_rng(42).standard_normal((n_planes, dim))


def random_hyperplane_buckets(
    embeddings: DataFrame, n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """LSH bucket id per vector: sign bits against seeded random hyperplanes.

    Planes are generated driver-side from a seeded RNG and embedded as
    literals — deterministic across runs and executors.
    """
    planes = hyperplanes(n_planes, dim)
    vecd = _as_double("embedding")
    bucket = None
    tmp = embeddings.withColumn("vecd", vecd)
    for j in range(n_planes):
        dot_j = F.expr(
            f"aggregate(zip_with(vecd, array({','.join(str(float(v)) for v in planes[j])}), "
            f"(x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        # round before the sign test so the bucket id is identical across
        # engines whose float summation order differs (same discipline as
        # the pre-rank cosine rounding; a raw `dot > 0` could flip on
        # |dot| ≲ 1e-13 association noise)
        bit = F.when(F.round(dot_j, 6) > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else (bucket + bit)
    return tmp.withColumn("bucket", bucket.cast("long"))


def lsh_bucket_index(
    embeddings: DataFrame, n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """The materialized LSH index (id, bucket, vecd, norm): the bucket
    assignment plus the rank-ready double vector and its norm — what
    `knn_lsh` builds per side when no prebuilt index is passed. The 8
    plane-dot aggregates over 64-literal arrays are the expensive part of
    every LSH call; materializing them once (see llm_ops._lsh_bucketed)
    is the `_ivf_assigned` discipline applied to the LSH tier."""
    base = random_hyperplane_buckets(embeddings, n_planes, dim)
    return base.select(
        "vec_id", "bucket", "vecd", F.sqrt(_dot("vecd", "vecd")).alias("norm")
    )


def knn_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: rank only corpus vectors in the query's LSH bucket.

    `bucketed`: optionally pass the materialized `lsh_bucket_index` table
    (e.g. a session cache shared with knn_rrf). Same contract as
    `knn_ivf`'s `assigned`: it REPLACES `embeddings` entirely — the corpus
    side reads it directly and the query side is looked up in it by
    `queries`' ids — so pass an index built over the corpus being searched
    with the same vec_id column."""
    if bucketed is not None:
        if "vec_id" not in bucketed.columns:
            raise ValueError(
                "bucketed index lacks id column 'vec_id'; it replaces "
                "`embeddings`, so it must be built over the corpus being "
                "searched with the same id column"
            )
        corpus = bucketed.select(
            F.col("vec_id").alias("neighbor_id"),
            "bucket",
            F.col("vecd").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
        q_ids = queries.select(F.col("vec_id").alias("qid"))
        qs = bucketed.join(
            F.broadcast(q_ids), bucketed["vec_id"] == q_ids["qid"]
        ).select(
            F.col("vec_id").alias("query_id"),
            "bucket",
            F.col("vecd").alias("qvec"),
            F.col("norm").alias("qnorm"),
        )
        # The query side is |queries| rows by contract — broadcast it
        # EXPLICITLY: the checkpointed index reports small stats, so the
        # planner otherwise builds (broadcasts) the CORPUS side of the
        # bucket join, shipping every vector payload instead of the
        # handful of query rows (guide §3.1: pick the build side
        # deliberately when estimates mislead).
        qs = F.broadcast(qs)
    else:
        corpus = random_hyperplane_buckets(embeddings, n_planes, dim).select(
            F.col("vec_id").alias("neighbor_id"),
            "bucket",
            F.col("vecd").alias("cvec"),
        )
        corpus = corpus.withColumn("cnorm", F.sqrt(_dot("cvec", "cvec")))
        qs = random_hyperplane_buckets(queries, n_planes, dim).select(
            F.col("vec_id").alias("query_id"),
            "bucket",
            F.col("vecd").alias("qvec"),
        )
        qs = qs.withColumn("qnorm", F.sqrt(_dot("qvec", "qvec")))
    cos = cosine_rounded("qvec", "cvec", "qnorm", "cnorm").alias("cosine")
    pairs = (
        corpus.join(qs, on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos)
    )
    return top_k_neighbors(pairs, F.desc("cosine"), k)


def frozen_ivf_assign(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """IVF serving path: assign each vector to its nearest FROZEN centroid
    (`functions/ivf_centroids.py`, trained offline — see
    `tools/train_ivf_centroids.py`).

    cell = argmin_j ||v - c_j||², with the squared distance ROUNDED to 6
    decimals before the argmin and first-index tie-break, so the assignment
    is bit-identical across engines (same discipline as the hyperplane sign
    test). Pure JVM expressions over literals — zero shuffle, scan-linear,
    and the centroid table is a code literal so nothing is broadcast.
    """
    from data_warehouse_flink_spark.functions.ivf_centroids import CENTROIDS

    tmp = with_norm(embeddings)
    structs = ", ".join(
        f"struct(round(aggregate(zip_with(vecd, "
        f"array({','.join(repr(v) for v in c)}), "
        f"(x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), "
        f"(acc, v) -> acc + v), 6) AS dist, {i} AS cell)"
        for i, c in enumerate(CENTROIDS)
    )
    # single-pass struct-min (lower cell on equal rounded distance) ==
    # the previous array_position(dists, array_min(dists)) first-index
    # form, which evaluated the whole interpreted distance array TWICE
    # per row (the pq_trained_codes lesson, SCALING.md round-9)
    cell = F.expr(f"CAST(array_min(array({structs})).cell AS INT)")
    return tmp.select(id_col, "vecd", "norm", cell.alias("cell"))


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine rerank within the query's IVF cell
    (nprobe=1), cells from the frozen coarse quantizer. The candidate join
    keys on the cell id, so pairing cost is Σ_cell |cell|·|queries in cell|
    instead of n·q.

    `assigned`: optionally pass the materialized (id, vecd, norm, cell)
    index table (e.g. a session cache shared with knn_rrf) — skips the
    per-invocation checkpoint AND Catalyst re-planning of the 16×64
    centroid literal tree. When `assigned` is given it REPLACES
    `embeddings` entirely (both the corpus side and the query-vector
    lookup read from it) — pass the index built over the corpus you mean
    to search, and note its columns are fixed to (vec_id, vecd, norm,
    cell) by `frozen_ivf_assign`. Corpus identity is the CALLER's
    contract: whether `assigned` covers the same rows as the
    `embeddings` frame you would otherwise have passed is not checkable
    here without scanning both — a filtered corpus next to a full-corpus
    index silently searches the full corpus."""
    if assigned is not None and "vec_id" not in assigned.columns:
        # loud schema check only (cheap); it cannot detect a same-schema
        # index built over a DIFFERENT corpus — see the docstring contract
        raise ValueError(
            "assigned index lacks id column 'vec_id'; it replaces "
            "`embeddings`, so it must be built over the corpus being "
            "searched with the same id column"
        )
    # materialize the assignment once — this IS the inverted-file index;
    # without it both the corpus side and the query side re-run the
    # 16-centroid argmin over a fresh scan of the embeddings
    if assigned is None:
        assigned = frozen_ivf_assign(embeddings).localCheckpoint(eager=True)
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "cell",
        F.col("vecd").alias("cvec"), F.col("norm").alias("cnorm"),
    )
    q_ids = queries.select(F.col("vec_id").alias("qid"))
    qs = assigned.join(
        F.broadcast(q_ids), assigned["vec_id"] == q_ids["qid"]
    ).select(
        F.col("vec_id").alias("query_id"), "cell",
        F.col("vecd").alias("qvec"), F.col("norm").alias("qnorm"),
    )
    cos = cosine_rounded("qvec", "cvec", "qnorm", "cnorm").alias("cosine")
    # Build side chosen deliberately (guide §3.1): the query side is
    # |queries| rows by contract; the checkpointed index's small stats
    # otherwise make the planner broadcast the CORPUS side (every vector
    # payload) — wrong at any real corpus size.
    pairs = (
        corpus.join(F.broadcast(qs), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos)
    )
    return top_k_neighbors(pairs, F.desc("cosine"), k)


def _pq_codebook_df(spark):
    """The frozen codebooks (functions/pq_codebooks.py) as a 128-row
    DataFrame (m, cidx, cw) for broadcast joins. Keeping the codewords as
    DATA instead of literal expression trees matters: the literal form made
    every knn_pq plan carry ~128 distance subtrees that Catalyst re-optimized
    and janino re-compiled per invocation — measured as the dominant,
    highly-variable cost (2.7-8.6 s at sf0.1). The join form plans in
    milliseconds and scales identically (the codebook is 8 KB)."""
    from data_warehouse_flink_spark.functions.pq_codebooks import CODEBOOKS

    rows = [
        (m, j, [float(v) for v in cw])
        for m, book in enumerate(CODEBOOKS)
        for j, cw in enumerate(book)
    ]
    return spark.createDataFrame(rows, "m int, cidx int, cw array<double>")


def _pq_subspace_dists(df: DataFrame, id_out: str) -> DataFrame:
    """Per (vector, subspace, codeword) rounded squared distance in integer
    micro-units: one explode to (vector, m, subvector) rows, one broadcast
    join against the codebook table. d_micro = round(d, 6) * 1e6 as BIGINT,
    so every downstream reduction (argmin, ADC sum) is exact-integer and
    summation-order-free."""
    from data_warehouse_flink_spark.functions.pq_codebooks import (
        M_SUBSPACES,
        SUB_DIM,
    )

    spark = df.sparkSession
    subs = df.select(
        F.col("vec_id").alias(id_out),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("vecd"),
    ).select(
        id_out,
        F.explode(
            F.expr(
                f"transform(sequence(0, {M_SUBSPACES - 1}), "
                f"m -> struct(m AS m, "
                f"slice(vecd, m * {SUB_DIM} + 1, {SUB_DIM}) AS sub))"
            )
        ).alias("s"),
    ).select(id_out, "s.m", "s.sub")
    return subs.join(F.broadcast(_pq_codebook_df(spark)), "m").select(
        id_out,
        "m",
        "cidx",
        F.expr(
            "CAST(round(round(aggregate(zip_with(sub, cw, "
            "(x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), "
            "(acc, v) -> acc + v), 6) * 1000000.0, 0) AS BIGINT)"
        ).alias("d_micro"),
    )


def pq_encode(embeddings: DataFrame) -> DataFrame:
    """Encode each vector to M=8 codebook indices (product quantization).

    The compressed representation: 8 small ints instead of 64 floats —
    this is what a 100 TB vector corpus stores and scans. One explode +
    broadcast codebook join + one groupBy(id) with 8 conditional
    struct-mins (lexicographic (d_micro, cidx) min = round-then-argmin
    with first-index tie-break, bit-identical across engines).
    """
    from data_warehouse_flink_spark.functions.pq_codebooks import M_SUBSPACES

    d = _pq_subspace_dists(embeddings, "_pq_id")
    return d.groupBy(F.col("_pq_id").alias("vec_id")).agg(
        *[
            F.min(F.when(F.col("m") == m, F.struct("d_micro", "cidx")))[
                "cidx"
            ].alias(f"code{m}")
            for m in range(M_SUBSPACES)
        ]
    )


def knn_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric-distance computation (ADC) over the
    PQ-encoded corpus.

    The query side keeps, per subspace, its 16 distances to every codeword
    (the ADC lookup table, here in long form); the corpus side is scanned
    as CODES ONLY — a candidate's distance is the sum of 8 looked-up
    entries, joined on (subspace, code), never touching the original
    floats. That asymmetry is the PQ scale win: the 64-float corpus never
    leaves storage, the scan reads 8 bytes/vector. The query table is
    queries x 128 rows and broadcast; distances live in integer
    micro-units so the 8-way ADC sum is exact in any order, and the final
    rank ties break on neighbor id — engine-exact against the generated
    oracle.
    """
    from data_warehouse_flink_spark.functions.pq_codebooks import M_SUBSPACES

    # `codes`: optionally pass the materialized pq_encode output (a session
    # cache shared with knn_ivf_pq) — the corpus encode (explode + codebook
    # join + 8-way struct-min groupBy) is the invocation's dominant stage.
    enc = codes
    if enc is None:
        enc = pq_encode(embeddings)
    codes_long = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({m} AS m, code{m} AS code)"
                    for m in range(M_SUBSPACES)
                )
                + ")"
            )
        ).alias("c"),
    ).select("neighbor_id", "c.m", "c.code")
    qd = _pq_subspace_dists(queries, "query_id")
    pairs = codes_long.join(
        F.broadcast(qd.withColumnRenamed("cidx", "code")), ["m", "code"]
    )
    adc = (
        pairs.filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            (F.sum("d_micro").cast("double") / 1000000.0).alias("adc_dist")
        )
    )
    return top_k_neighbors(adc, F.asc("adc_dist"), k)


def sq8_encode(embeddings: DataFrame) -> DataFrame:
    """Scalar (int8) quantization: per-dimension corpus min/max → 0..255
    codes, plus the reconstruction error the compression costs.

    The fifth vector-compression tier (brute force → LSH → IVF → PQ → SQ8):
    production stores train per-dim ranges once, then encode every vector to
    dim bytes. Plan shape: pass 1 aggregates the 64-row (dim, min, max)
    stats table (tiny), pass 2 re-scans the corpus and encodes against the
    BROADCAST stats — two scans total, zero corpus-sized shuffles, all JVM
    array expressions.

    Cross-engine exactness: float→double widening is exact; the affine
    code formula and the reconstruction error use the same IEEE operation
    order in both engines; the error is rounded to integer micro-units
    before emission. Flat dimensions (max == min) encode to 0.

    Returns: vec_id, code_checksum (BIGINT sum of codes), codes_preview
    (first 8 codes, space-joined), err_micro (BIGINT, Σ(x - x̂)² × 1e6).
    """
    dims = embeddings.select(
        F.posexplode(_as_double("embedding")).alias("d", "x")
    ).groupBy("d").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    stats = dims.groupBy().agg(
        F.expr("array_sort(collect_list(struct(d, lo, hi)))").alias("st")
    )
    coded = embeddings.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.expr(
            "transform(sequence(1, size(embedding)), i -> CASE "
            "WHEN st[i-1].hi = st[i-1].lo THEN 0L ELSE "
            "CAST(least(greatest(floor((CAST(element_at(embedding, i) AS "
            "DOUBLE) - st[i-1].lo) / (st[i-1].hi - st[i-1].lo) * 255.0 "
            "+ 0.5), 0.0), 255.0) AS BIGINT) END)"
        ).alias("codes"),
        F.expr(
            "transform(sequence(1, size(embedding)), i -> "
            "CAST(element_at(embedding, i) AS DOUBLE))"
        ).alias("vecd"),
        F.col("st"),
    )
    return coded.select(
        "vec_id",
        F.expr("aggregate(codes, 0L, (a, c) -> a + c)").alias(
            "code_checksum"
        ),
        F.expr(
            "array_join(transform(slice(codes, 1, 8), c -> CAST(c AS "
            "STRING)), ' ')"
        ).alias("codes_preview"),
        F.expr(
            "CAST(round(aggregate(sequence(1, size(vecd)), "
            "CAST(0 AS DOUBLE), (acc, i) -> acc + "
            "(vecd[i-1] - (st[i-1].lo + CAST(codes[i-1] AS DOUBLE) / 255.0"
            " * (st[i-1].hi - st[i-1].lo))) * "
            "(vecd[i-1] - (st[i-1].lo + CAST(codes[i-1] AS DOUBLE) / 255.0"
            " * (st[i-1].hi - st[i-1].lo)))) * 1000000.0, 0) AS BIGINT)"
        ).alias("err_micro"),
    )


def knn_ivf_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    assigned: DataFrame | None = None,
    query_cells: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: ADC scan restricted to the query's coarse cell (nprobe=1) —
    the production ANN index layout (FAISS IVFPQ): the corpus is stored as
    cell-partitioned PQ code lists (8 bytes/vector + a cell id), a query
    probes one cell and pays 8 table lookups per candidate. Composes the
    two frozen, oracle-checked stages verbatim: `frozen_ivf_assign` for the
    cell and `pq_encode`/`_pq_subspace_dists` for the compressed distances.

    Scale shape: candidate volume is Σ_cell |cell|·|queries probing it|
    (the IVF win) and each candidate costs integer lookups, never floats
    (the PQ win). The per-query ADC tables plus cell ids broadcast; the
    only corpus-sized work is the code-list scan keyed on (cell, m, code).
    """
    from data_warehouse_flink_spark.functions.pq_codebooks import M_SUBSPACES

    # cell assignment IS the coarse index; codes ARE the stored corpus.
    # Callers that invoke repeatedly in one session (the registered gate,
    # bench reps) pass `assigned`/`query_cells` from a keyed cache so ONE
    # checkpoint block is reused; the per-invocation eager checkpoint here
    # is the one-shot default (it truncates the 128-centroid literal tree,
    # but its block is not memoized, so session.release does not free it).
    if assigned is None:
        assigned = (
            frozen_ivf_assign(embeddings)
            .select("vec_id", "cell")
            .localCheckpoint(eager=True)
        )
    # `codes`: same contract as knn_pq — a prebuilt pq_encode table skips
    # the per-invocation corpus encode.
    enc = codes
    if enc is None:
        enc = pq_encode(embeddings)
    codes_long = enc.join(assigned, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({m} AS m, code{m} AS code)"
                    for m in range(M_SUBSPACES)
                )
                + ")"
            )
        ).alias("c"),
    ).select("neighbor_id", "cell", "c.m", "c.code")

    qd = _pq_subspace_dists(queries, "query_id")
    # Query cells come from the query VECTORS (frozen_ivf_assign on the
    # queries frame), not from a join against the corpus assignment table —
    # identical for in-corpus queries (same frozen centroids, same rounded
    # argmin) but correct for arbitrary query DataFrames too, instead of
    # silently dropping any query id absent from the corpus. The tiny
    # query-cell table is eager-checkpointed: the 128-centroid literal
    # expression tree is Catalyst-analysis-heavy, and without truncation it
    # appears a SECOND time inside the joined plan (the corpus side already
    # carries one) — measured 2.5 s vs 3.6-4.5 s per call at sf0.1.
    if query_cells is None:
        query_cells = (
            frozen_ivf_assign(
                queries.select(
                    F.col("vec_id").alias("query_id"), F.col("embedding")
                ),
                id_col="query_id",
            )
            .select("query_id", "cell")
            .localCheckpoint(eager=True)
        )
    qtab = qd.withColumnRenamed("cidx", "code").join(query_cells, "query_id")

    pairs = codes_long.join(F.broadcast(qtab), ["cell", "m", "code"])
    adc = (
        pairs.filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            (F.sum("d_micro").cast("double") / 1000000.0).alias("adc_dist")
        )
    )
    return top_k_neighbors(adc, F.asc("adc_dist"), k)
