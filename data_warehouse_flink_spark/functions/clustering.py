"""In-engine distributed k-means (Lloyd's) over embedding columns, exact
enough to oracle-check.

The frozen IVF/PQ literals (`functions/ivf_centroids.py`,
`functions/pq_codebooks.py`) are trained OFFLINE by `tools/train_*.py`
with pyspark.ml — correct for serving, but the trainer itself was outside
the oracle gate. This module closes that loop: a Lloyd's iteration built
from plain DataFrame ops whose every arithmetic step is bit-identical in
any IEEE/ANSI engine, so the *training algorithm* (not just the served
index) can be hash-checked against DuckDB.

Determinism recipe (why this is exact, not approximately-equal):
- vectors are quantized once: q_d = FLOOR(DOUBLE(x_d) * SCALE). float→
  double is exact, the product is one correctly-rounded IEEE op, FLOOR is
  total — identical in Spark, DuckDB, numpy.
- assignment distance is pure BIGINT arithmetic: Σ (q_d − c_d)²; argmin
  ties break on the lower cell id.
- the centroid update is c_d = FLOOR(s_d / n) with s_d, n integers far
  below 2^53: the double quotient is correctly rounded and the true
  rational s/n is ≥ 1/n away from any integer it isn't equal to — vastly
  more than one ulp — so the floored quotient equals exact integer floor
  division in every engine.
- empty cells carry their previous centroid forward.

Scale shape (the part that must survive 100 TB):
- assignment is a MAP-ONLY scan — the k×dim centroid table is a code
  literal per iteration (same idiom as `frozen_ivf_assign`), so there is
  no join and no shuffle;
- the update is one groupBy("cell") with k groups and dim+1 partial
  aggregates — map-side combine reduces each partition to ≤k rows before
  the (tiny) shuffle, the same 64-column-min shape the MinHash signature
  aggregation proved out;
- the driver materializes exactly k·(dim+1) integers per iteration — the
  MODEL, never the data (pyspark.ml's KMeans does the same via
  treeAggregate).

Reference parity: the reference has no trainer (it serves hand-fed
state); this is the SURVEY §2.7/§4.2 "custom iterative operator"
capability, the batch sibling of the connected-components loop in
`operators/graph.py`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_flink_spark.functions.similarity import top_k_neighbors

QUANT_SCALE = 1_000_000


def quantize_embeddings(df: DataFrame, scale: int = QUANT_SCALE) -> DataFrame:
    """(id, q: array<bigint>) with q_d = FLOOR(DOUBLE(x_d) * scale)."""
    return df.select(
        "vec_id",
        F.expr(
            "transform(embedding, "
            f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT))"
        ).alias("q"),
    )


def _best_cell_sql(centroids: list[list[int]], vec_sql: str = "q") -> str:
    """SQL text of struct(dist, cell) of the nearest centroid to the
    vector expression `vec_sql` — integer squared L2, ties to the lower
    cell id. THE one spelling of the argmin idiom: `_best_cell` wraps it
    as a Column, the fused trainer's CASE arms embed it per subspace —
    a second literal copy of the tie-break rule would let the
    fused/sequential bit-identity pins drift."""
    dists = _sub_dist_sql(vec_sql, centroids)
    structs = ", ".join(
        f"struct({d} AS dist, CAST({c} AS BIGINT) AS cell)"
        for c, d in enumerate(dists)
    )
    return f"array_min(array({structs}))"


def _best_cell(centroids: list[list[int]]):
    """`_best_cell_sql` over `q` as a Column. A pure literal expression:
    any projection using it stays map-only."""
    return F.expr(_best_cell_sql(centroids))


def assign_quantized_cells(qdf: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(id, cell, dist): nearest centroid by integer squared L2, ties to the
    lower cell id. Map-only — centroids ride as literals, no shuffle."""
    best = _best_cell(centroids)
    return qdf.select(
        "vec_id",
        best.getField("cell").alias("cell"),
        best.getField("dist").alias("dist"),
    )


def _floor_mean(s: int, n: int) -> int:
    """FLOOR(s / n) via double division — exact for |s| < 2^53 (see module
    docstring), and the SAME op Spark/DuckDB run, which is the point."""
    return math.floor(s / n)


def lloyd_iteration_sums(
    qdf: DataFrame, centroids: list[list[int]]
) -> DataFrame:
    """One Lloyd iteration's update stage: (cell, n, s0..s{dim-1}) — the
    per-cell population and per-dimension sums under the given centroids.

    The cell is computed INLINE in the same projection as q, so the
    iteration is one map-only scan feeding one k-group partial agg (its
    only Exchange — plan-guarded in tests/test_round8_ops.py); a
    join-back of a separate assignment frame would re-shuffle the whole
    corpus on id once the assignment side outgrows broadcast."""
    dim = len(centroids[0])
    cell = _best_cell(centroids).getField("cell").alias("cell")
    return (
        qdf.select(cell, "q")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n"),
            *[F.sum(F.col("q")[d]).alias(f"s{d}") for d in range(dim)],
        )
    )


def kmeans_quantized_train(
    qdf: DataFrame,
    k: int = 8,
    iters: int = 3,
) -> list[list[int]]:
    """`iters` Lloyd iterations over a quantized embedding table; returns
    the final centroid matrix (k × dim ints). Init: the quantized vectors
    of the k smallest ids, cell index in id order."""
    init_rows = qdf.orderBy("vec_id").limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(init_rows)}")
    centroids = [list(r["q"]) for r in init_rows]
    dim = len(centroids[0])
    for _ in range(iters):
        sums = lloyd_iteration_sums(qdf, centroids)
        by_cell = {int(r["cell"]): r for r in sums.collect()}  # ≤ k rows: the model
        centroids = [
            (
                [
                    _floor_mean(int(by_cell[c][f"s{d}"]), int(by_cell[c]["n"]))
                    for d in range(dim)
                ]
                if c in by_cell
                else centroids[c]  # empty cell: carry forward
            )
            for c in range(k)
        ]
    return centroids


def _sub_dist_sql(sub_sql: str, book: list[list[int]]) -> list[str]:
    """BIGINT squared-L2 expressions from a sliced quantized vector
    expression to each codeword of one subspace's book."""
    return [
        (
            f"aggregate(zip_with({sub_sql}, "
            f"array({','.join(f'{v}L' for v in cw)}), "
            f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
            f"(acc, v) -> acc + v)"
        )
        for cw in book
    ]


def pq_lloyd_iteration_sums(
    qdf: DataFrame,
    books: list[list[list[int]]],
    sub_dim: int = 8,
) -> DataFrame:
    """ONE Lloyd update stage for ALL M subspaces in one corpus scan:
    (m, cell, n, s0..s{sub_dim-1}) — per-(subspace, codeword) population
    and per-dimension sums under the given codebooks.

    Each row explodes into M (m, slice) structs — total bytes equal the
    original row, so the explode is a repack, not a blowup — the
    nearest cell is computed per exploded row from the ALREADY-SLICED
    array behind a lazily-evaluated CASE over m (higher-order
    `aggregate` expressions are interpreted, with no common-
    subexpression elimination: slicing inside every codeword distance
    re-sliced q 128× per row and measured 2× SLOWER than the
    sequential path at 500k — slice once, then the per-row work equals
    one subspace chain's), and one groupBy(m, cell) with M·k groups
    aggregates everything. This is the fusion the sequential
    per-subspace path (`kmeans_quantized_train` per slice) costs M
    scans per iteration to avoid; at corpus scale the scan count is the
    whole bill. Codewords ride as literals: the pre-shuffle stage stays
    map-only, and map-side combine reduces each partition to ≤M·k rows
    before the (tiny) exchange."""
    slices = ", ".join(
        f"struct(CAST({m} AS BIGINT) AS m, "
        f"slice(q, {m * sub_dim + 1}, {sub_dim}) AS sub)"
        for m in range(len(books))
    )
    arms = " ".join(
        f"WHEN {m} THEN {_best_cell_sql(book, 'sub')}.cell"
        for m, book in enumerate(books)
    )
    exploded = qdf.select(
        F.explode(F.expr(f"array({slices})")).alias("e")
    ).select(F.col("e.m").alias("m"), F.col("e.sub").alias("sub"))
    with_cell = exploded.select(
        "m",
        F.expr(f"CASE m {arms} END").alias("cell"),
        "sub",
    )
    return with_cell.groupBy("m", "cell").agg(
        F.count("*").alias("n"),
        *[F.sum(F.col("sub")[d]).alias(f"s{d}") for d in range(sub_dim)],
    )


def pq_kmeans_fused_train(
    qdf: DataFrame,
    m_subspaces: int = 8,
    sub_dim: int = 8,
    k: int = 16,
    iters: int = 2,
) -> list[list[list[int]]]:
    """All M per-subspace Lloyd runs fused into one scan per iteration —
    the production shape `kmeans_quantized_train`-per-slice documents but
    costs M scans per iteration to get. Bit-identical to the sequential
    path (pinned in tests/test_round9_ops.py): same init (the k smallest
    ids' slices — the per-subspace init rows are the SAME rows, so one
    k-row collect covers every subspace), same integer argmin with
    lower-cell ties, same FLOOR(s/n) update with empty-cell
    carry-forward. Driver materializes M·k·(sub_dim+1) ints per
    iteration — the model."""
    init_rows = qdf.orderBy("vec_id").limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(init_rows)}")
    dim = len(init_rows[0]["q"])
    if dim < m_subspaces * sub_dim:
        # slicing past the array would silently yield empty codewords and
        # an all-cell-0 model; fail loudly instead
        raise ValueError(
            f"vectors have {dim} dims but m_subspaces*sub_dim="
            f"{m_subspaces * sub_dim}"
        )
    books = [
        [
            list(r["q"])[m * sub_dim : (m + 1) * sub_dim]
            for r in init_rows
        ]
        for m in range(m_subspaces)
    ]
    for _ in range(iters):
        sums = pq_lloyd_iteration_sums(qdf, books, sub_dim)
        by_key = {
            (int(r["m"]), int(r["cell"])): r for r in sums.collect()
        }  # ≤ M·k rows: the model
        books = [
            [
                (
                    [
                        _floor_mean(
                            int(by_key[(m, c)][f"s{d}"]),
                            int(by_key[(m, c)]["n"]),
                        )
                        for d in range(sub_dim)
                    ]
                    if (m, c) in by_key
                    else books[m][c]  # empty cell: carry forward
                )
                for c in range(k)
            ]
            for m in range(m_subspaces)
        ]
    return books


def _bind_slice(m: int, sub_dim: int, body_sql: str) -> str:
    """Evaluate `body_sql` (which references the lambda variable `_sub`)
    with `_sub` bound ONCE to the m-th slice of q, via a single-element
    transform. Interpreted higher-order expressions get no common-
    subexpression elimination, so an inline slice(q, …) inside the 16
    codeword-distance aggregates re-slices per reference — measured 2×
    slower on the fused trainer (SCALING.md round-9); a lambda variable
    is a materialized value."""
    return (
        f"element_at(transform(array(slice(q, {m * sub_dim + 1}, "
        f"{sub_dim})), _sub -> {body_sql}), 1)"
    )


def _adc_dist_exprs(
    books: list[list[list[int]]], sub_dim: int
) -> list[str]:
    """Per-subspace SQL for the 16 exact integer distances from a sliced
    quantized vector `q` to subspace m's codewords — the slice is bound
    once per row (`_bind_slice`), not re-evaluated per codeword."""
    return [
        _bind_slice(
            m,
            sub_dim,
            f"array({', '.join(_sub_dist_sql('_sub', book))})",
        )
        for m, book in enumerate(books)
    ]


def pq_trained_codes(
    qdf: DataFrame,
    books: list[list[list[int]]],
    sub_dim: int = 8,
) -> DataFrame:
    """(id, code0..code{M-1}) under trained codebooks — the compressed
    corpus representation (M small ints per vector; the floats stay in
    storage). Map-only: codewords ride as literals; the argmin is the
    shared `_best_cell_sql` struct-min (lower code on ties, matching the
    training tie-break), computed in ONE pass over the codebook with the
    slice lambda-bound once — the double `array_position(dl,
    array_min(dl))` evaluation of the dl expression was 2× the needed
    per-row work on the interpreted path."""
    codes = [
        F.expr(
            _bind_slice(m, sub_dim, f"{_best_cell_sql(book, '_sub')}.cell")
        ).alias(f"code{m}")
        for m, book in enumerate(books)
    ]
    return qdf.select("vec_id", *codes)


def pq_query_lookup(
    qdf: DataFrame,
    books: list[list[list[int]]],
    sub_dim: int = 8,
) -> DataFrame:
    """(id, dl0..dl{M-1}) — each query's per-subspace integer ADC lookup
    arrays (its exact distances to every codeword). Query-side only:
    the corpus never materializes these (`pq_trained_codes` is all it
    stores)."""
    dls = [
        F.expr(dl).alias(f"dl{m}")
        for m, dl in enumerate(_adc_dist_exprs(books, sub_dim))
    ]
    return qdf.select("vec_id", *dls)


def adc_topk(
    codes: DataFrame,
    lookups: DataFrame,
    k: int = 5,
    m_subspaces: int = 8,
) -> DataFrame:
    """Top-k by asymmetric distance: corpus codes join the broadcast
    query lookup tables; a candidate's distance is M array lookups
    summed in exact BIGINT arithmetic (no rounding discipline needed —
    everything lives in the quantized integer space). Ranks tie-break
    on the neighbor id."""
    corpus = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"code{m}") for m in range(m_subspaces)],
    )
    qs = lookups.select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"dl{m}") for m in range(m_subspaces)],
    )
    adc = None
    for m in range(m_subspaces):
        term = F.element_at(
            F.col(f"dl{m}"), (F.col(f"code{m}") + 1).cast("int")
        )
        adc = term if adc is None else adc + term
    pairs = corpus.join(
        F.broadcast(qs), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", adc.cast("long").alias("adc_dist"))
    return top_k_neighbors(pairs, F.asc("adc_dist"), k)
