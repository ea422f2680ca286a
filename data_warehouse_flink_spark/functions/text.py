"""Text-analysis operators for document tables at corpus scale.

All hot-path expressions are JVM built-ins (split/filter/length/md5 — fully
codegen'd, no Python); nothing here shuffles except explicit groupBys by the
caller. Designed for a `documents(doc_id, text, ...)` table of arbitrary
size: per-row ops scale linearly and partition-locally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deliberately tiny, deterministic stopword list (public, language-agnostic
# demo set) — the scoring formula, not the list, is the operator.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")

# Marker tokens per language for the n-gram/marker language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


def tokens(text_col: str | Column = "text") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def token_count(text_col: str | Column = "text") -> Column:
    """Whitespace token count as BIGINT (oracle-stable type)."""
    return F.size(tokens(text_col)).cast("long")


def stopword_count() -> Column:
    toks = tokens()
    in_set = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.size(in_set).cast("long")


def quality_features(df: DataFrame) -> DataFrame:
    """Per-document quality signals: lengths, token stats, stopword ratio.

    All ratios are double divisions of exact integers → bit-identical across
    engines; rounded to 6 for output stability.
    """
    n_tok = token_count()
    n_stop = stopword_count()
    n_chars = F.length("text").cast("long")
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_text"),
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / n_tok, 6).alias("stop_ratio"),
        F.round(
            (n_chars - (n_tok - F.lit(1))).cast("double") / n_tok, 6
        ).alias("avg_token_len"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 over normalized text plus a
    64-bit prefix fingerprint (hex) for cheap equality bucketing."""
    norm = F.lower(F.col("text"))
    return df.select(
        "doc_id",
        F.md5(norm).alias("md5_hex"),
        F.substring(F.md5(norm), 1, 16).alias("fp64_hex"),
    )


def language_id(df: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Marker-token language ID: argmax of per-language marker counts.

    Deterministic tie-break: higher count wins, then lexicographic language
    code; all-zero → 'unk'. (The container has no real langid model; this is
    the n-gram-heuristic family the reference-scale pipeline would use.)

    `passthrough` names input columns carried unchanged into the output —
    it lets a composite pipeline (the CCNet funnel) stack several per-row
    stages into ONE projection chain over ONE scan instead of computing
    each stage on its own scan and joining them back on doc_id.
    """
    toks = tokens()

    def marker_count(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = [
        marker_count(markers).alias(lang)
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = df.select("doc_id", *passthrough, *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(lang) for lang in langs])
    pred = F.lit("unk")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when((F.col(lang) == best) & (best > 0), F.lit(lang)).otherwise(
            pred
        )
    return scored.select("doc_id", *passthrough, pred.alias("pred_lang"))


def repetition_features(df: DataFrame, n: int = 3) -> DataFrame:
    """Per-document repetition signal: duplicate n-gram fraction.

    The repeated-n-gram fraction is the standard text-quality repetition
    signal for training-data curation (a high fraction marks boilerplate /
    degenerate text). Computed entirely with array expressions — tokenize
    once, build the shingle array, ``array_distinct`` it — so the whole
    operator is a per-row projection: zero shuffle, linear scan scale, and
    whole-stage codegen keeps it JVM-side.

    The fraction is emitted as an exact integer part-per-million
    (``(total - distinct) * 1e6 div total``) so both engines agree
    bit-for-bit without float-rounding conventions.
    """
    # The `total_grams > 0` output filter is equivalently `size(_toks) >= n`
    # (a non-empty shingle array exists iff the doc has >= n tokens) —
    # applied HERE, on the token array, so predicate pushdown never
    # re-derives the full gram transform inside a Filter node. The shingle
    # array is then hoisted into its own projection: a non-cheap alias
    # referenced more than once survives CollapseProject, so the transform
    # runs ONCE per row instead of once per reference (the _dsir_grams
    # hoisting lesson; this projection previously evaluated it twice, plus
    # a third time in the pushed-down filter).
    toked = df.select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    ).filter(F.size("_toks") >= n)
    grammed = toked.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, size(_toks) - {n}), "
            f"i -> concat_ws(' ', slice(_toks, i + 1, {n})))"
        ).alias("_grams"),
    )
    with_counts = grammed.select(
        "doc_id",
        F.size("_grams").cast("long").alias("total_grams"),
        F.size(F.array_distinct("_grams")).cast("long").alias(
            "distinct_grams"
        ),
    )
    return with_counts.withColumn(
        "dup_ppm",
        F.expr(
            "CAST((total_grams - distinct_grams) * 1000000"
            " DIV total_grams AS BIGINT)"
        ),
    )


# PII patterns restricted to the regex subset where Java (Spark) and RE2
# (DuckDB oracle) agree exactly: char classes, bounded repetition, \b.
# Applied sequentially on the progressively-redacted text so one span is
# never counted by two patterns (an email's host can't also count as a
# "phone" digit run, etc.).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d-]{7,}\d", "<PHONE>"),
)


def pii_redact(df: DataFrame) -> DataFrame:
    """Redact emails / IPv4s / phone numbers; per-doc counts + redacted text.

    Pure per-row ``regexp_replace``/``regexp_extract_all`` projections —
    zero shuffle, scan-linear, JVM-side (no Python in the loop). Returns
    ``doc_id``, one ``n_<kind>`` count per pattern, and ``redacted``.
    """
    out = df.select("doc_id", F.col("text").alias("redacted"))
    for kind, pat, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}",
            F.size(
                F.regexp_extract_all(F.col("redacted"), F.lit(pat), F.lit(0))
            ).cast("long"),
        ).withColumn(
            "redacted",
            F.regexp_replace(F.col("redacted"), pat, token),
        )
    return out.select(
        "doc_id", *(f"n_{kind}" for kind, _, _ in PII_PATTERNS), "redacted"
    )


# Frozen linear quality model (fastText-style filter with literal weights).
# Integer-ppm features x integer weights => the logit is exact BIGINT
# arithmetic, bit-identical across engines — no sigmoid needed, because
# thresholding the monotone logit is the same decision rule.
QUALITY_WEIGHTS = {
    "bias": -25_000_000,
    "w_tokens": 400_000,  # longer documents score higher
    "w_stop_ppm": 100,  # stopword presence marks natural language
    "w_dup_ppm": -300,  # repeated trigrams mark boilerplate
    "w_len_dev": -30_000,  # per centi-char deviation from typical token len
    "len_center_centi": 450,
}


def linear_quality_score(
    df: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Frozen-weight linear quality classifier over exact integer features.

    The production shape of a model-based quality filter: train offline,
    freeze the weights into the pipeline, score at corpus scale as a pure
    projection. Features (all exact BIGINTs): token count, stopword ppm,
    duplicate-trigram ppm, and average token length in centi-chars; the
    decision is ``quality_score >= 0``. Zero shuffle, scan-linear,
    whole-stage-codegen'd.

    `passthrough` columns are carried unchanged into the output (see
    `language_id` — the single-scan composition hook for the funnel).
    """
    w = QUALITY_WEIGHTS
    stopset = ", ".join(f"'{s}'" for s in STOPWORDS)
    toked = df.select(
        "doc_id",
        *passthrough,
        F.col("text").alias("_text"),
        F.split(F.col("text"), " ").alias("_toks"),
    )
    # Hoist the trigram array into its own projection: the dup_ppm feature
    # references it four times (guard, two sizes, array_distinct), and
    # inlined it was evaluated four times PER ROW; as a non-cheap alias
    # referenced more than once it survives CollapseProject and runs once
    # (same hoisting as repetition_features / _dsir_grams).
    grammed = toked.select(
        "doc_id",
        *passthrough,
        "_text",
        "_toks",
        F.expr(
            "CASE WHEN size(_toks) >= 3 THEN "
            "transform(sequence(0, size(_toks) - 3), "
            "i -> concat_ws(' ', slice(_toks, i + 1, 3))) ELSE array() END"
        ).alias("_grams"),
    )
    feats = grammed.select(
        "doc_id",
        *passthrough,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.expr(
            f"CAST(size(filter(_toks, t -> t IN ({stopset}))) * 1000000"
            " DIV size(_toks) AS BIGINT)"
        ).alias("stop_ppm"),
        F.expr(
            "CAST((length(_text) - (size(_toks) - 1)) * 100"
            " DIV size(_toks) AS BIGINT)"
        ).alias("avg_len_centi"),
        F.expr(
            "CAST(CASE WHEN size(_grams) > 0 THEN"
            " (size(_grams) - size(array_distinct(_grams))) * 1000000"
            " DIV size(_grams) ELSE 0 END AS BIGINT)"
        ).alias("dup_ppm"),
    )
    score = (
        F.lit(w["bias"])
        + F.lit(w["w_tokens"]) * F.col("n_tokens")
        + F.lit(w["w_stop_ppm"]) * F.col("stop_ppm")
        + F.lit(w["w_dup_ppm"]) * F.col("dup_ppm")
        + F.lit(w["w_len_dev"])
        * F.abs(F.col("avg_len_centi") - F.lit(w["len_center_centi"]))
    ).cast("long")
    return feats.select(
        "doc_id",
        *passthrough,
        "n_tokens",
        "stop_ppm",
        "dup_ppm",
        "avg_len_centi",
        score.alias("quality_score"),
        (score >= 0).alias("keep"),
    )


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization for crawl dedup: strip query string and
    fragment, lowercase the scheme://host prefix (hosts are
    case-insensitive; paths are not), drop a leading ``www.``, and trim a
    trailing path slash. Pure regex/string expressions (Java and RE2
    compatible), zero shuffle — the normalize-before-dedup step every
    web-corpus ingest runs before grouping by URL.
    """
    no_q = F.regexp_replace(url, "[?#].*", "")
    head = F.regexp_extract(no_q, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]+", 0)
    path = F.substring(no_q, F.length(head) + 1, F.lit(1_000_000))
    return F.concat(
        F.regexp_replace(F.lower(head), "://www\\.", "://"),
        F.regexp_replace(path, "/$", ""),
    )


# Char-spaced BPE corpus representation: words char-spaced, joined by the
# '|' word-boundary token merges never cross, flanked by single spaces.
# The ONE Spark-side spelling shared by the in-engine trainer gate
# (plans/llm_ops.py::corpus_bpe_train) and the offline merge-table tool
# (tools/train_bpe.py) — the frozen-merge pin (trained == MERGES[:n]) is
# only meaningful if both run the byte-identical loop. Engine-parity
# caveat inherited from the doc_bpe_encode repr pair: Java regex '.'
# excludes \r (and a few Unicode line separators) that RE2's '.' does
# not — the shipped corpora contain neither.
BPE_BASE_REPR = (
    "concat(' ', array_join(transform(split(text, ' '), "
    "w -> regexp_replace(w, '(.)', '$1 ')), '| '))"
)


def bpe_train_merges(
    docs: DataFrame, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The classic BPE pair-counting loop (Sennrich et al. 2016) as
    distributed aggregations: per rank, count adjacent non-boundary
    symbol pairs, take the argmax (ties: lower left then lower right
    symbol, binary collation), extend the merge list, repeat. Returns
    [(rank, left, right, count)].

    Scale shape per rank: one pair-explode + high-reduction groupBy
    (symbol-pair cardinality, not corpus size) and a 1-ROW driver
    collect — the model. The corpus rewrite applies as a chained
    map-only replace expression, RE-materialized only every
    4 ranks. Cadence is a STORAGE policy, not a time
    lever: an interleaved warm-JVM A/B at 1M docs measured per-rank /
    every-4 / never-materialize all at ~28-31 s for 8 ranks (earlier
    cross-session spreads of 60-246 s were JVM/codegen warmup) — but a
    per-rank checkpoint pins a corpus-sized block per rank for the
    session (9 blocks/invocation at n=8) where every-4 pins 2, so the
    cadence bounds both the replace chain (≤3 per scan) and storage. Merge symbols ride
    as literal Columns, never f-string SQL (symbols may contain
    quotes). Documents shorter than two symbols are filtered before
    the pair transform — sequence(1, 0) is the DESCENDING [1, 0] in
    Spark and element_at(_t, 2) throws under ANSI mode (the Spark 4
    default).

    SEMANTICS CAVEAT (deliberate, shared by all three engines): pair
    counting sees every ADJACENT occurrence, but the space-delimited
    replace merges only NON-OVERLAPPING occurrences left-to-right —
    in `` a b a b `` the second ``a b`` loses its leading space to the
    first merge and survives the rank, so the same (a, b) pair can win
    the argmax at more than one rank and the returned list may contain
    repeated (left, right) rows at distinct ranks. This deviates from
    canonical Sennrich BPE (which would re-count after an exhaustive
    merge) but is applied IDENTICALLY by the Spark loop, the DuckDB
    oracle CTEs, and tools/train_bpe.py, so the frozen-merge pin and
    cross-engine parity are exact. Callers consuming the merge list as
    a vocabulary should de-duplicate (left, right) keys.

    OPERATING RANGE: this sequential form re-scans the corpus once per
    RANK — right for vocabulary bootstraps and the oracle gate (n ≤ a
    few dozen), wrong for a real 32k-merge vocabulary (32k sequential
    scans). For volume training use `bpe_train_merges_batched`, which
    amortizes one corpus count over up to `batch_size` merges per scan
    (this function IS its batch_size=1 path).
    """
    return bpe_train_merges_batched(docs, n_merges, batch_size=1)


def bpe_train_merges_batched(
    docs: DataFrame, n_merges: int, batch_size: int = 8
) -> list[tuple[int, str, str, int]]:
    """Batched BPE training (VERDICT r8 #3): per EPOCH, count all
    adjacent pairs once, then greedily accept up to `batch_size`
    non-conflicting merges from the count-ordered candidates and apply
    them in one chained map-only rewrite — n_merges/batch_size corpus
    scans instead of n_merges. The standard scaling move for real
    (32k-entry) vocabularies, where one-scan-per-rank is untenable.

    A candidate (c, d) CONFLICTS with an epoch's already-accepted
    merges when it shares a symbol with one of them (its pre-epoch
    count would be stale — merging (a, b) changes only counts of pairs
    touching a or b) or when c or d equals an accepted merge's
    concatenation (the rewrite for (a, b) creates new ``ab`` tokens
    that a later `` ab d `` replace in the same chain would also
    merge, diverging from count order). Accepted merges are therefore
    pairwise symbol-disjoint, so their pre-epoch counts are EXACT
    post-merge counts and in-epoch order is immaterial; conflicting
    candidates simply wait for the next epoch's recount. With
    batch_size=1 every epoch accepts exactly the global argmax — the
    sequential Sennrich loop, byte-identical (the frozen-MERGES pin and
    the DuckDB oracle CTEs grade that path).

    Model collects stay bounded: one ≤(4·batch_size+8)-row collect per
    epoch (1 row when batch_size=1). The every-4 checkpoint cadence
    counts ACCEPTED MERGES since the last materialization, exactly as in the sequential
    form — counting epochs instead let the un-checkpointed replace
    chain grow past a dozen chained string rewrites per count scan and
    measured SLOWER than sequential at 1M docs (SCALING.md round 9).
    Overlapping-replace caveat inherited unchanged from
    `bpe_train_merges`.
    """
    base = docs.select(
        F.expr(BPE_BASE_REPR).alias("r")
    ).localCheckpoint(eager=True)
    repr_col: Column = F.col("r")
    pairs = F.explode(
        F.expr(
            "transform(sequence(1, size(_t) - 1), "
            "i -> struct(element_at(_t, i) AS a, "
            "element_at(_t, i + 1) AS b))"
        )
    ).alias("p")
    cand_cap = 1 if batch_size == 1 else 4 * batch_size + 8
    out: list[tuple[int, str, str, int]] = []
    pending = 0  # replaces applied since the last materialization
    while len(out) < n_merges:
        top = (
            base.select(F.split(F.trim(repr_col), " ").alias("_t"))
            .filter(F.size("_t") >= 2)
            .select(pairs)
            .select("p.a", "p.b")
            .filter((F.col("a") != "|") & (F.col("b") != "|"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(cand_cap)
            .collect()  # bounded: the epoch's candidate model rows
        )
        if not top:
            break  # corpus exhausted to single symbols
        used: set[str] = set()
        formed: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        for row in top:
            if (
                len(accepted) >= batch_size
                or len(out) + len(accepted) >= n_merges
            ):
                break
            a, b = row["a"], row["b"]
            if a in used or b in used or a in formed or b in formed:
                continue  # stale count or chained-rewrite hazard: recount
            accepted.append((a, b, int(row["c"])))
            used.update((a, b))
            formed.add(a + b)
        # first candidate always accepts, so progress is guaranteed
        for a, b, c in accepted:
            out.append((len(out), a, b, c))
            repr_col = F.replace(
                repr_col, F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
            )
            pending += 1
            if pending >= 4:
                base = base.select(repr_col.alias("r")).localCheckpoint(
                    eager=True
                )
                repr_col = F.col("r")
                pending = 0
    return out
