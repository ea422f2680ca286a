"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact: one hash-groupBy on md5(text) — a single shuffle keyed on the hash,
  uniform by construction (no skew).
- n-gram Jaccard: the exact quadratic-ish baseline; the shingle inverted
  index (explode → self-join on shingle) only pairs docs that share a
  shingle, so cost is Σ_shingle df(shingle)^2, not n².
- MinHash+LSH: the 100 TB path — per-doc signature (narrow shuffle-free
  map), band buckets, candidate pairs only within buckets, exact-Jaccard
  verify on candidates.
- SimHash: 64-bit signature per doc; near-dup = small Hamming distance.

All hashing uses xxhash64 (JVM built-in, seedable) — no Python in hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehouse_flink_spark.operators.topn import top_n_per_group

# The MinHash family shared by every MinHash gate, the streaming ledger and
# the DuckDB oracle generators: 64 hashes, banded 16 bands x 4 rows.
NUM_HASHES = 64
BANDS = 16


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash; canonical = min doc_id."""
    return (
        df.select("doc_id", F.md5(F.lower(F.col("text"))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def word_ngrams(df: DataFrame, n: int, distinct: bool = True) -> DataFrame:
    """(doc_id, gram) pairs — word n-gram shingles per doc, distinct by
    default.

    The token array is materialized once per row before the transform;
    putting split() inside the lambda would re-tokenize the document for
    every shingle position (O(tokens²) per doc).

    `distinct=False` skips the (doc_id, gram) deduplication — a FULL-CORPUS
    shuffle — for consumers whose downstream aggregation is already
    duplicate-insensitive (count_distinct, set semantics): positional
    duplicates then flow through the scan-local explode unharmed and the
    plan stays shuffle-free until something genuinely needs a key.
    """
    toked = df.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    # guard: documents with fewer than n tokens yield no shingles (a bare
    # sequence(0, size-n) would descend through -1 and crash slice())
    grams = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(0, size(_toks) - {n}), "
        f"i -> concat_ws(' ', slice(_toks, i + 1, {n}))) "
        f"ELSE array() END"
    )
    out = toked.select("doc_id", F.explode(grams).alias("gram"))
    return out.distinct() if distinct else out


def jaccard_pairs(
    grams: DataFrame,
    threshold: float,
    df_cap: int | None = None,
    hash_grams: bool = True,
) -> DataFrame:
    """Pairwise Jaccard over a (doc_id, gram) shingle table.

    Inverted-index self-join: pairs only materialize for docs sharing a
    shingle. Output: doc_a < doc_b, jaccard (double, round 6) ≥ threshold.

    `df_cap` is the hot-shingle guard: the self-join costs Σ df(gram)², so
    one stop-word shingle shared by 1% of a 10B-doc corpus is a 10^14-pair
    bucket. With a cap, grams with document frequency > df_cap are excluded
    from *candidate generation* (docs sharing nothing but ultra-common
    shingles are not near-dups at any sane threshold), and a second count
    join adds each surviving pair's shared hot grams back in, so retained
    pairs keep their exact Jaccard. Cost: Σ_rare df² for candidates plus
    |candidates| × hot-grams-per-doc for the correction — never Σ_hot df².
    (A collect_set/array_intersect re-verify was measured 6× slower at
    sf0.1 than this count-join form; don't revert to it.)

    `hash_grams` (default on) replaces the shingle string with
    `xxhash64(gram)` before anything shuffles: the gram never appears in
    the output, so every downstream join/groupBy key drops from a ~20-byte
    string to an 8-byte long — the same swap the substring/span dedup
    tiers took in round 6. Measured 2.0× at 1M docs / 38M gram rows
    (19.5 s vs 38.6 s interleaved, SCALING.md round-7); at cluster scale
    the key-byte reduction through the network shuffle is the real prize.
    Outputs are byte-identical to the string-keyed form unless two
    distinct shingles collide in 64 bits within one pair's gram sets
    (~2^-64 per gram pair; pinned identical in tests/test_round7_ops.py,
    and the DuckDB oracle would catch a collision at grading scale).
    `hash_grams=False` keeps the string path for the pin's A/B arm.
    """
    if hash_grams:
        grams = grams.select("doc_id", F.xxhash64("gram").alias("gram"))
    # The gram table feeds up to six consumers (sizes, the hot list, both
    # sides of the candidate join, both sides of the hot correction);
    # without materialization each one re-runs the scan+tokenize+explode
    # lineage — 6 corpus scans at 100 TB. One eager local checkpoint makes
    # it a single pass (measured neutral at sf0.1, where the page cache
    # hides the rescans; the win is the scan count at scale). Hashing
    # BEFORE the checkpoint also shrinks the materialized blocks ~3×.
    grams = grams.localCheckpoint(eager=True)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    if df_cap is not None:
        # the hot list has ≤ |grams|/df_cap entries by construction, so it
        # broadcasts; the rare/hot split then costs no shuffle of `grams`
        hot_list = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > df_cap)
            .select("gram")
        )
        rare = grams.join(F.broadcast(hot_list), "gram", "left_anti")
        hot = grams.join(F.broadcast(hot_list), "gram")
        a = rare.select(F.col("doc_id").alias("doc_a"), "gram")
        b = rare.select(F.col("doc_id").alias("doc_b"), "gram")
        common_rare = (
            a.join(b, on="gram")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("c_rare"))
        )
        ha = hot.select(F.col("doc_id").alias("doc_a"), "gram")
        hb = hot.select(F.col("doc_id").alias("doc_b"), "gram")
        common_hot = (
            common_rare.select("doc_a", "doc_b")
            .join(ha, "doc_a")
            .join(hb, ["doc_b", "gram"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("c_hot"))
        )
        common = (
            common_rare.join(common_hot, ["doc_a", "doc_b"], "left")
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("c_rare") + F.coalesce(F.col("c_hot"), F.lit(0))
                ).alias("c"),
            )
        )
    else:
        a = grams.select(F.col("doc_id").alias("doc_a"), "gram")
        b = grams.select(F.col("doc_id").alias("doc_b"), "gram")
        common = (
            a.join(b, on="gram")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("c"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic odd multipliers + offsets for the affine hash family."""
    import random

    rng = random.Random(42)
    p = 2_147_483_647  # 2^31 - 1 (Mersenne prime): a*g+b < 2^62, ANSI-safe
    consts = []
    for _ in range(num_hashes):
        a = rng.randrange(1, p)
        b = rng.randrange(0, p)
        consts.append((a, b))
    return consts


def minhash_signatures(
    grams: DataFrame, num_hashes: int = NUM_HASHES, gram_hash: str = "xxhash64"
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of h_i(gram).

    The shingle string is hashed ONCE; the k hash functions are
    the universal family h_i(g) = (a_i·g + b_i) mod p with p = 2^31-1 —
    the modulus is what makes each h_i an (approximate) independent
    permutation; a mod-free affine map is monotone in g and would collapse
    every component to the same argmin shingle, degenerating LSH banding
    to a single draw. One string hash + k multiply-add-mods per shingle,
    whole-stage codegen; the aggregation is a plain k-column min.

    gram_hash picks the shingle→integer map: "xxhash64" (production fast
    path, 31-bit mask) or "md5" (28-bit hex prefix via conv — slower, but
    reproducible in any engine with md5(), which is what lets the
    `doc_minhash_lsh` gate carry a value-exact DuckDB oracle).
    """
    if gram_hash == "xxhash64":
        g = F.xxhash64("gram").bitwiseAND(F.lit((1 << 31) - 1))
    elif gram_hash == "md5":
        g = F.expr("CAST(conv(substr(md5(gram), 1, 7), 16, 10) AS BIGINT)")
    else:
        raise ValueError(f"unknown gram_hash {gram_hash!r}")
    base = grams.select("doc_id", g.alias("g"))
    prime = 2_147_483_647
    mins = [
        F.min(F.pmod(F.col("g") * F.lit(a) + F.lit(b), F.lit(prime))).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(_affine_constants(num_hashes))
    ]
    sig = base.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def band_keys(
    signatures: DataFrame,
    bands: int = BANDS,
    rows_per_band: int = NUM_HASHES // BANDS,
) -> DataFrame:
    """LSH banding: one (id, band, bucket) row per signature band, where
    bucket = hash of the band's signature slice. Two docs are LSH
    candidates iff they share a (band, bucket) key — the primitive behind
    both batch candidate-pair generation and the streaming dedup ledger."""
    bands_col = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col("signature").getItem(b * rows_per_band + r)
                        for r in range(rows_per_band)
                    ],
                ),
                F.lit(b),
            ).alias(f"b{b}")
            for b in range(bands)
        ]
    )
    return signatures.select(
        "doc_id", F.posexplode(bands_col).alias("band", "bucket")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = BANDS,
    rows_per_band: int = NUM_HASHES // BANDS,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band bucket.

    Scale path: the only shuffle keys on (band, bucket-hash); bucket sizes
    follow collision probability, not corpus size. Dedup of pairs found in
    multiple bands via distinct.
    """
    banded = band_keys(signatures, bands, rows_per_band)
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def verify_jaccard_on_candidates(
    candidates: DataFrame,
    grams: DataFrame,
    threshold: float,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair set only.

    Attaches each side's full shingle set (collect_set → array) and computes
    |A∩B| via array_intersect — cost is O(|candidates| · set size), never the
    corpus-quadratic inverted-index join. This is what makes LSH the scale
    path: verification is proportional to candidates, not to n².

    `hash_grams` (default on) collects `xxhash64(gram)` sets instead of the
    shingle strings: the grams ride the doc_id-keyed shuffles as VALUES
    here (the array payload), so the swap shrinks every collected set
    ~3× while |A|, |B|, and |A∩B| — hence the jaccard value — are
    unchanged modulo 64-bit collisions (pinned byte-identical in
    tests/test_round7_ops.py). Same family as the round-7 jaccard /
    url-dedup key swaps, applied to payload bytes instead of key bytes.
    """
    if hash_grams:
        grams = grams.select("doc_id", F.xxhash64("gram").alias("gram"))
    sets = grams.groupBy("doc_id").agg(F.collect_set("gram").alias("gs"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("ga"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gb"))
    common = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - common
    jac = common.cast("double") / union
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _check_signature_width(signatures: DataFrame) -> None:
    """Raise if a caller-supplied signature table's width differs from the
    NUM_HASHES the banding math uses — on ANY row, not just
    the first (a ragged table from a bad union/cache would pass a first()
    probe whenever its first row happened to match). One min/max aggregate
    on what is always a session-cached (localCheckpointed) table — a small
    single job that turns a silent NULL-bucket degeneration into a loud
    error."""
    row = signatures.agg(
        F.min(F.size("signature")).alias("lo"),
        F.max(F.size("signature")).alias("hi"),
        F.count("*").alias("n_rows"),
        F.count("signature").alias("n_sigs"),
    ).first()
    if row is None or row["n_rows"] == 0:
        return  # empty table: nothing to band, nothing to mis-band
    if row["n_sigs"] != row["n_rows"]:
        # min/max over size() skip NULLs, so NULL signature rows (outer
        # join, schema-mismatched union) need their own arm — they would
        # band into NULL buckets and collide with each other
        raise ValueError(
            f"signatures table has {row['n_rows'] - row['n_sigs']} NULL "
            f"signature rows (of {row['n_rows']}); banding would emit "
            f"NULL buckets"
        )
    if row["lo"] != NUM_HASHES or row["hi"] != NUM_HASHES:
        raise ValueError(
            f"signatures table has widths in [{row['lo']}, {row['hi']}] "
            f"but num_hashes={NUM_HASHES}; banding would read past the "
            f"array (NULL buckets) or ignore part of the signature"
        )


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.3,
    gram_hash: str = "xxhash64",
    grams: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline over word trigrams: near-dup pairs
    with exact Jaccard.

    Candidates come from LSH bands only; exact Jaccard (array_intersect over
    the candidate pairs, not the full inverted index) verifies them, so the
    result is a subset of the brute-force `jaccard_pairs` output with
    LSH-probabilistic recall — the standard web-scale dedup contract.

    The shingle table feeds BOTH the signature stage and the verify stage.
    Measurement history: persisting it MEMORY_AND_DISK was 2-3× SLOWER
    (1.2s→12s at sf0.001 — the block-serialization cost dwarfed the
    recompute); an eager localCheckpoint is a wash at sf0.1 (warm 3.3s
    recompute vs 3.6s checkpointed, cold 6.7s vs 5.0s). The checkpoint is
    kept because it halves the CORPUS SCAN count (2 → 1) — at 100 TB the
    rescan is the dominant cost, not the local materialization.

    `grams`: optionally pass an ALREADY-MATERIALIZED (doc_id, gram) table
    (e.g. from a session cache shared with sibling queries) and the
    internal build + per-invocation checkpoint is skipped — measured
    3.12 s → 1.96 s per call at sf0.1 when three invocations share one
    table (SCALING.md round-7). The caller owns materialization then; an
    unmaterialized frame would silently reintroduce the 6-scan lineage.
    When `grams` is provided, `df` is IGNORED — the shingle config is
    whatever the caller baked into the table (ADVICE r7 #3).

    `signatures`: optionally pass an already-materialized signature table
    for the SAME grams (e.g. a session cache shared with the recall audit
    and the incremental gate) — skips the 64-min aggregation, the
    pipeline's dominant stage. `gram_hash` is then ignored, but the
    table's signature width must be NUM_HASHES (validated —
    banding silently degenerates otherwise: getItem past the end is
    NULL, concat_ws drops NULLs, and the affected bands collide
    everything into one bucket).
    """
    if grams is None:
        grams = word_ngrams(df, 3).localCheckpoint(eager=True)
    sigs = signatures
    if sigs is None:
        sigs = minhash_signatures(grams, gram_hash=gram_hash)
    else:
        _check_signature_width(sigs)
    cands = lsh_candidate_pairs(sigs)
    return verify_jaccard_on_candidates(cands, grams, threshold)


def simhash_signatures(
    df: DataFrame, bits: int = 32, tok_hash: str = "xxhash64"
) -> DataFrame:
    """Per-doc SimHash: bit j is the sign of Σ_token (±1) where the sign is
    bit j of the token hash. JVM-only bit arithmetic, one aggregation.

    tok_hash "xxhash64" is the production fast path; "md5" (48-bit hex
    prefix via conv) is engine-portable and lets the `doc_simhash` gate
    carry a value-exact DuckDB oracle (bits must be ≤ 48 on that path).
    """
    if tok_hash == "xxhash64":
        h = F.xxhash64("tok")
    elif tok_hash == "md5":
        assert bits <= 48, "md5 path extracts a 48-bit prefix"
        h = F.expr("CAST(conv(substr(md5(tok), 1, 12), 16, 10) AS BIGINT)")
    else:
        raise ValueError(f"unknown tok_hash {tok_hash!r}")
    toks = (
        df.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .distinct()
        .withColumn("h", h)
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k.

    Block on `n_blocks` equal signature slices (pigeonhole: distance ≤
    n_blocks - 1 ⇒ at least one identical slice), then verify exact
    Hamming via bit_count(xor). The default 4 quarters is LOSSLESS for
    the production max_hamming=3 contract; a higher block count widens
    the lossless radius (8 blocks ⇒ ≤ 7) at the cost of shorter, less
    selective block keys — the recall-audit gate uses that to build an
    exact wider-radius baseline that stays candidate-proportional
    (Σ per-bucket df², never n²).
    """
    if bits % n_blocks != 0:
        raise ValueError(f"bits={bits} not divisible by n_blocks={n_blocks}")
    quarter = bits // n_blocks
    mask = (1 << quarter) - 1
    blocks = signatures.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * quarter)
                    .bitwiseAND(F.lit(mask))
                    for i in range(n_blocks)
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
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    )
    return (
        left.join(right, on=["block", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def span_dedup(
    df: DataFrame,
    span_tokens: int = 8,
    hash_key: bool = False,
) -> DataFrame:
    """Cross-document repeated-span removal (C4-style line dedup, spans).

    C4/RefinedWeb-style pipelines drop every repeated line/three-sentence
    span corpus-wide, keeping one occurrence. This corpus has no sentence
    boundaries, so the unit is a fixed ``span_tokens``-token non-overlapping
    window: each document is cut into consecutive spans, a span's FIRST
    global occurrence (ordered by ``(doc_id, span_idx)``) is kept, every
    later occurrence is dropped, and the surviving spans are re-joined in
    document order.

    Scale shape: one scan -> explode (corpus token count rows) -> one
    hash-shuffle keyed on the span text for the first-occurrence window ->
    one groupBy(doc) for reassembly. Linear in corpus size, no self-join;
    the span key is content-hashed by the shuffle so hot spans cost their
    multiplicity, not a cross-product.

    Returns ``(doc_id, n_spans, n_spans_kept, dedup_text)``; documents that
    lose every span keep a row with ``dedup_text = ''``.
    """
    from pyspark.sql.window import Window

    toked = df.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    spans = toked.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(_toks) + {span_tokens} - 1)"
                f" DIV {span_tokens} - 1),"
                f" i -> array_join(slice(_toks, i * {span_tokens} + 1,"
                f" {span_tokens}), ' '))"
            )
        ).alias("span_idx", "span"),
    )
    # hash_key=True is the production shape: the first-occurrence window
    # shuffles on xxhash64(span) — 8-byte keys instead of span_tokens-word
    # strings (identical output barring a 64-bit collision; the span text
    # still travels as payload for reassembly, so the win is the sort/
    # compare cost and key bytes of the window shuffle, not row width).
    part = F.xxhash64("span") if hash_key else F.col("span")
    first = Window.partitionBy(part).orderBy("doc_id", "span_idx")
    flagged = spans.withColumn("keep", F.row_number().over(first) == 1)
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_spans_kept"),
        F.coalesce(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN keep THEN struct(span_idx, span) END)),"
                " s -> s.span), ' ')"
            ),
            F.lit(""),
        ).alias("dedup_text"),
    )


def lsh_admit_batch(keys: DataFrame, ledger: DataFrame | None) -> DataFrame:
    """First-seen LSH admission: which keyed batch docs survive against an
    (optional) band ledger of previously admitted docs. A doc is dropped
    if (a) any of its (band, bucket) keys appears in the ledger (near-dup
    of an already-admitted doc — left_semi keyed on the bucket, collision-
    probability-sized, never corpus-sized), or (b) any of its buckets
    contains a smaller-id doc within the batch (keep-one-per-LSH-bucket;
    arrival order inside a batch is undefined, so the id is the
    deterministic tie-break). Returns the distinct admitted ids (single
    `doc_id` column) among docs present in `keys` — docs with no keys
    (too short to shingle) are the CALLER's to admit, mirroring the
    batch-side join in the streaming loop.

    This is the one admission kernel shared by the canonical ledger
    maintainer (`streaming/curation.py::near_dedup_stream`) and its
    batch twin (`incremental_dedup_batch`) — the two-batch-sequence ==
    streaming-replay pin in tests/test_round9_ops.py holds because both
    paths run THIS function.
    """
    if ledger is not None:
        dup_of_state = (
            keys.join(ledger, on=["band", "bucket"], how="left_semi")
            .select("doc_id")
            .distinct()
        )
        clean = keys.join(dup_of_state, on="doc_id", how="left_anti")
    else:
        dup_of_state = None
        clean = keys
    owners = clean.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("owner")
    )
    dup_in_batch = (
        clean.join(owners, on=["band", "bucket"])
        .filter(F.col("doc_id") > F.col("owner"))
        .select("doc_id")
        .distinct()
    )
    dropped = (
        dup_in_batch
        if dup_of_state is None
        else dup_of_state.unionByName(dup_in_batch)
    )
    return (
        keys.select("doc_id")
        .distinct()
        .join(dropped, on="doc_id", how="left_anti")
    )


def incremental_dedup_batch(
    batch_docs: DataFrame,
    ledger: DataFrame | None,
    ngram: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    gram_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """One ingest step of the first-seen near-dedup ledger loop, batch
    form: returns ``(admitted_docs, admitted_keys)`` where
    ``admitted_docs`` is the subset of `batch_docs` that survives
    admission against `ledger` (pass ``None`` for a cold start) and
    ``admitted_keys`` is the (id, band, bucket) rows the caller APPENDS
    to the ledger before the next batch — the ledger-maintenance step
    VERDICT r8 #5 asked for. Daily-ingest usage::

        admitted, new_keys = incremental_dedup_batch(today, ledger)
        new_keys.write.mode("append").partitionBy("band").parquet(state)

    Semantics are exactly `near_dedup_stream`'s per-micro-batch loop
    (both run `lsh_admit_batch`): bucket-collision drop against the
    ledger, keep-one-per-bucket within the batch, docs too short to
    shingle always admitted. Unlike `incremental_minhash_dedup` (the
    read-only AUDIT path — exact-Jaccard-verified best matches, no
    ledger mutation), this is the conservative production admission
    policy whose state the audit path reads.
    """
    batch = batch_docs.localCheckpoint(eager=True)
    # distinct=False: MinHash's per-component min is duplicate-insensitive
    # (min over a multiset == min over its set), so deduplicating the
    # (doc_id, gram) pairs — a full-batch shuffle — before the signature
    # aggregation was pure waste; the explode now feeds the map-side
    # partial min directly (r14).
    grams = word_ngrams(batch, ngram, distinct=False)
    sigs = minhash_signatures(grams, num_hashes, gram_hash=gram_hash)
    keys = band_keys(
        sigs, bands, num_hashes // bands
    ).localCheckpoint(eager=True)
    # Materialize the (tiny) admitted id set once: BOTH returned frames'
    # lineages contain this ledger-reading admit join — without the
    # checkpoint each downstream action re-ran it, and any caller that
    # appends to the ledger path had to eagerly checkpoint the full
    # outputs (text payload included) before writing to avoid feeding a
    # batch's own keys back into its unmaterialized plan. With the id set
    # pinned, no output lineage touches the ledger at all (r14).
    admitted_ids = lsh_admit_batch(keys, ledger).localCheckpoint(eager=True)
    keyed_ids = keys.select("doc_id").distinct()
    keyless = batch.select("doc_id").join(
        keyed_ids, on="doc_id", how="left_anti"
    )
    all_admitted = admitted_ids.unionByName(keyless)
    admitted_docs = batch.join(all_admitted, on="doc_id", how="left_semi")
    admitted_keys = keys.join(admitted_ids, on="doc_id", how="left_semi")
    return admitted_docs, admitted_keys


def incremental_minhash_dedup(
    grams: DataFrame,
    is_batch: Column,
    threshold: float = 0.3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dedup: docs where `is_batch` holds (the increment)
    against the rest (the frozen corpus), returning each dup batch doc's
    best corpus match — (doc_id, match_id, jaccard), highest exact
    Jaccard, ties to the lower match_id.

    The daily-ingest shape: candidates come from joining the increment's
    band keys against the corpus band LEDGER on (band, bucket) — cost is
    proportional to the increment and its collisions, never corpus²; in
    production the ledger side is stored state (the
    `streaming/curation.py::near_dedup_stream` parquet state table),
    recomputed here only because the gate runs self-contained.

    This is the read-only AUDIT path: it reports each batch doc's
    best exact-Jaccard corpus match but mutates nothing. Ledger
    MAINTENANCE (admit + append keys) is `incremental_dedup_batch`
    per batch, or `near_dedup_stream` continuously — both run the
    same `lsh_admit_batch` kernel.
    Verification is exact Jaccard on candidates only. Intra-batch dups
    are `minhash_lsh_dedup` applied to the increment; this covers the
    batch-vs-corpus arm.

    `grams` feeds TWO lineages (signatures and the Jaccard verify) — the
    caller owns its materialization (cache/checkpoint), same contract as
    `jaccard_pairs`/`minhash_lsh_dedup`; an unmaterialized word_ngrams
    frame would re-run the corpus scan + explode per consumer.
    `signatures` (optional) skips the signature stage exactly as in
    `minhash_lsh_dedup`; the table's signature width must be NUM_HASHES
    (validated).
    """
    sigs = signatures
    if sigs is None:
        sigs = minhash_signatures(grams)
    else:
        _check_signature_width(sigs)
    banded = band_keys(sigs)
    batch = banded.filter(is_batch).select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    ledger = banded.filter(~is_batch).select(
        F.col("doc_id").alias("doc_b"), "band", "bucket"
    )
    cand = (
        batch.join(ledger, on=["band", "bucket"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    scored = verify_jaccard_on_candidates(cand, grams, threshold)
    best = top_n_per_group(
        scored, ["doc_a"], [F.desc("jaccard"), F.asc("doc_b")], 1
    )
    return best.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("match_id"),
        "jaccard",
    )
