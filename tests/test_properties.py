"""Property-based tests: operator implementations vs independent
pure-Python references on randomized small inputs (hypothesis).

Few examples deliberately — each example pays a Spark job; the value is the
randomized structure (ties, empty groups, duplicate keys), not volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # group
        st.integers(min_value=0, max_value=50),  # value
        st.integers(min_value=0, max_value=999),  # unique-ish id
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[2],
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=ROWS)
def test_top_n_per_group_matches_python(spark, rows):
    """Descending and ascending orderings both keep the pure-Python top 2
    per group, ranked 1..2 as a BIGINT `rn`."""
    from pyspark.sql.types import LongType

    from data_warehouse_flink_spark.operators.topn import top_n_per_group

    df = spark.createDataFrame(rows, "g int, v int, id int")
    for by_v, sign in ((F.desc("v"), -1), (F.asc("v"), 1)):
        ranked = top_n_per_group(df, ["g"], [by_v, F.asc("id")], 2)
        assert ranked.schema["rn"].dataType == LongType()
        got = {(r["g"], r["id"], r["rn"]) for r in ranked.collect()}
        want = set()
        for g in {r[0] for r in rows}:
            members = sorted(
                (r for r in rows if r[0] == g),
                key=lambda r: (sign * r[1], r[2]),
            )
            want |= {(g, r[2], rn) for rn, r in enumerate(members[:2], 1)}
        assert got == want


DOCS = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]), min_size=3, max_size=10
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=DOCS)
def test_jaccard_pairs_match_python(spark, docs):
    from data_warehouse_flink_spark.functions.dedup import (
        jaccard_pairs,
        word_ngrams,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = word_ngrams(df, n=2)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(grams, threshold=0.0).collect()
    }

    def shingles(toks):
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = shingles(docs[a]), shingles(docs[b])
            inter = len(sa & sb)
            if inter:
                want[(a, b)] = round(inter / len(sa | sb), 6)
    assert got == want


WINDOW_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),       # key
        st.integers(min_value=0, max_value=100_000), # ts offset seconds
    ),
    min_size=1,
    max_size=40,
)
CONFIGS = st.sampled_from(
    [("1 hour", "15 minutes"), ("2 hours", "30 minutes"),
     ("1 hour", "10 minutes"), ("30 minutes", "5 minutes")]
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=WINDOW_ROWS, config=CONFIGS)
def test_two_level_window_property(spark, rows, config):
    """Two-level pane rollup ≡ naive pane assignment on random event sets
    and size/slide configs."""
    import datetime as dt

    import pandas as pd

    from data_warehouse_flink_spark.operators.windows import (
        windowed_count,
        windowed_count_two_level,
    )

    size, slide = config
    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "k": [r[0] for r in rows],
            "ts": [t0 + dt.timedelta(seconds=r[1]) for r in rows],
        }
    )
    df = spark.createDataFrame(pdf, schema="k int, ts timestamp")
    naive = (
        windowed_count(df, "ts", size, slide=slide, keys=["k"])
        .toPandas()
        .sort_values(["window_start_sec", "k"])
        .reset_index(drop=True)
    )
    two = (
        windowed_count_two_level(df, "ts", size, slide, keys=["k"])
        .toPandas()
        .sort_values(["window_start_sec", "k"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(naive, two[naive.columns], check_dtype=False)


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=EDGES)
def test_connected_components_match_union_find(spark, edges):
    from data_warehouse_flink_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id of the component
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    want = {
        (n, min(ms)) for root, ms in members.items() for n in ms
    }
    assert got == want


TEXTS = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "ab", "ba", "x"]),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=TEXTS)
def test_repetition_features_match_python(spark, docs):
    from data_warehouse_flink_spark.functions.text import repetition_features

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.total_grams, r.distinct_grams, r.dup_ppm)
        for r in repetition_features(df, n=3).collect()
    }
    for i, toks in enumerate(docs):
        # note: ''.split(' ') == [''] — an empty text is ONE empty token,
        # matching Spark's split semantics
        toks = toks or [""]
        grams = [
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        ]
        if not grams:
            assert i not in got
            continue
        total, distinct = len(grams), len(set(grams))
        assert got[i] == (
            total,
            distinct,
            (total - distinct) * 1_000_000 // total,
        )


PII_TEXTS = st.lists(
    st.sampled_from(
        [
            "plain words only",
            "mail me at a.user+x@mail-host.io today",
            "two mails a@b.co and c_d@e-f.org here",
            "host 10.0.255.1 and 192.168.0.254 up",
            "call +1-555-0100-99 now",
            "edge a@b.co 1.2.3.4 +12-3456-789",
            "",
        ]
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=PII_TEXTS)
def test_pii_redact_matches_python_re(spark, texts):
    import re

    from data_warehouse_flink_spark.functions.text import (
        PII_PATTERNS,
        pii_redact,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in pii_redact(df).collect()}
    for i, t in enumerate(texts):
        red = t
        for kind, pat, token in PII_PATTERNS:
            n = len(re.findall(pat, red))
            red = re.sub(pat, token, red)
            assert got[i][f"n_{kind}"] == n, (i, kind, t)
        assert got[i]["redacted"] == red


# ---- round-6: exact-substring window scan vs a pure-Python reference ----
SUBSTR_DOCS = st.lists(
    st.lists(
        # tiny alphabet so repeated windows actually occur
        st.sampled_from(["a", "b", "c"]),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=SUBSTR_DOCS)
def test_substring_dedup_plan_matches_python(spark, docs):
    """Both key tiers (string and xxhash64) of `_substring_dedup_plan`
    must match an independent Python reference for window counts, dup
    counts, ppm (floor division) and keep, at a small window size where
    randomized docs collide."""
    from collections import Counter

    from data_warehouse_flink_spark.plans.llm_ops import (
        _substring_dedup_plan,
    )

    n_tok = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # python reference (note: split(" ") on "" yields [""], matching Spark)
    win_count: Counter = Counter()
    per_doc_wins: dict[int, list[str]] = {}
    for i, _ in rows:
        toks = rows[i][1].split(" ")
        wins = [
            " ".join(toks[j : j + n_tok])
            for j in range(len(toks) - n_tok + 1)
        ] if len(toks) >= n_tok else []
        per_doc_wins[i] = wins
        win_count.update(wins)

    for hash_key in (False, True):
        got = {
            r["doc_id"]: r
            for r in _substring_dedup_plan(
                df, n_tokens=n_tok, hash_key=hash_key
            ).collect()
        }
        assert set(got) == set(per_doc_wins)
        for i, wins in per_doc_wins.items():
            n_dup = sum(1 for w in wins if win_count[w] > 1)
            assert got[i]["n_windows"] == len(wins), (hash_key, i)
            assert got[i]["n_dup_windows"] == n_dup, (hash_key, i)
            ppm = (n_dup * 1_000_000) // len(wins) if wins else 0
            assert got[i]["dup_ppm"] == ppm, (hash_key, i)
            assert bool(got[i]["keep"]) == (ppm <= 500_000), (hash_key, i)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=SUBSTR_DOCS)
def test_span_dedup_hash_key_invariant(spark, docs):
    """span_dedup(hash_key=True) must be row-identical to the string-keyed
    form on randomized inputs (the hash only renames the window shuffle
    key; first-occurrence order is (doc_id, span_idx) in both)."""
    from data_warehouse_flink_spark.functions.dedup import span_dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(tuple(r) for r in span_dedup(df, span_tokens=2).collect())
    b = sorted(
        tuple(r)
        for r in span_dedup(df, span_tokens=2, hash_key=True).collect()
    )
    assert a == b


SIGS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=999),            # doc_id
        st.integers(min_value=0, max_value=(1 << 48) - 1),  # 48-bit sig
    ),
    min_size=2,
    max_size=25,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sigs=SIGS, n_blocks=st.sampled_from([4, 6]))
def test_simhash_pigeonhole_lossless_matches_python(spark, sigs, n_blocks):
    """The claim both the doc_simhash gate and the recall report's exact
    baseline rest on: k-block pigeonhole blocking + Hamming verify finds
    EXACTLY the pairs at distance <= k-1 (no false negatives from
    blocking, no false positives past the verify) — checked against a
    pure-Python popcount over arbitrary 48-bit signatures, including
    clustered and duplicate values hypothesis likes to generate."""
    from data_warehouse_flink_spark.functions.dedup import simhash_pairs

    radius = n_blocks - 1
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(
            df, max_hamming=radius, bits=48, n_blocks=n_blocks
        ).collect()
    }
    want = set()
    for i, (ida, sa) in enumerate(sigs):
        for idb, sb in sigs[i + 1:]:
            h = bin(sa ^ sb).count("1")
            if h <= radius:
                a, b = min(ida, idb), max(ida, idb)
                want.add((a, b, h))
    assert got == want


GRN_KEYS = st.lists(
    st.integers(min_value=-(2 ** 40), max_value=2 ** 40),
    min_size=1,
    max_size=400,
    unique=True,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=GRN_KEYS, n_parts=st.integers(min_value=1, max_value=9))
def test_global_row_number_matches_python_sort(spark, keys, n_parts):
    """global_row_number == the position in Python's sorted() for any key
    set, partition count (including n_parts > n_rows), and input order."""
    from data_warehouse_flink_spark.operators.layout import global_row_number

    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(3)
    got = {
        r["k"]: r["pos"]
        for r in global_row_number(
            df, ["k"], pos_col="pos", num_partitions=n_parts
        ).collect()
    }
    want = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == want


VECSETS = st.lists(
    st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=3, max_size=3
    ),
    min_size=2,
    max_size=24,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VECSETS, parts=st.integers(min_value=1, max_value=7))
def test_kmeans_quantized_train_matches_python_reference(spark, vecs, parts):
    """The distributed Lloyd loop vs an exact pure-Python replica on
    randomized small integer vector sets across partition layouts —
    covers argmin ties, empty cells (duplicate points collapse clusters),
    and k > distinct-points degeneracy."""
    import math

    from data_warehouse_flink_spark.functions.clustering import (
        kmeans_quantized_train,
    )

    k, iters = 2, 2
    qdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id BIGINT, q ARRAY<BIGINT>"
    ).repartition(parts)

    got = kmeans_quantized_train(qdf, k=k, iters=iters)

    cents = [list(v) for v in vecs[:k]]
    for _ in range(iters):
        cells = []
        for v in vecs:
            dists = [
                sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents
            ]
            cells.append(dists.index(min(dists)))  # first index on ties
        new = []
        for c in range(k):
            members = [v for v, cell in zip(vecs, cells) if cell == c]
            if members:
                new.append(
                    [
                        math.floor(sum(col) / len(members))
                        for col in zip(*members)
                    ]
                )
            else:
                new.append(cents[c])
        cents = new
    assert got == cents


KEYS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),   # doc_id
        st.integers(min_value=0, max_value=3),    # band
        st.integers(min_value=0, max_value=5),    # bucket
    ),
    min_size=1,
    max_size=40,
)
LEDGERS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # band
        st.integers(min_value=0, max_value=5),    # bucket
    ),
    max_size=12,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=KEYS, ledger=LEDGERS)
def test_lsh_admit_batch_matches_python(spark, keys, ledger):
    """The round-9 shared admission kernel vs the set-logic reference:
    drop docs sharing any (band, bucket) with the ledger, then among the
    survivors keep only docs that are bucket-minimal in every one of
    their buckets. The same reference the streaming ledger-simulation
    test uses, here property-driven over random key tables."""
    from data_warehouse_flink_spark.functions.dedup import lsh_admit_batch

    kdf = spark.createDataFrame(
        keys, "doc_id long, band int, bucket int"
    ).distinct()
    ldf = (
        spark.createDataFrame(ledger, "band int, bucket int").distinct()
        if ledger
        else None
    )
    got = {
        r["doc_id"] for r in lsh_admit_batch(kdf, ldf).collect()
    }

    buckets: dict[int, set] = {}
    for d, band, bucket in keys:
        buckets.setdefault(d, set()).add((band, bucket))
    lset = set(ledger)
    clean = [d for d in buckets if not (buckets[d] & lset)]
    expected = {
        d
        for d in clean
        if all(
            d <= min(e for e in clean if k in buckets[e])
            for k in buckets[d]
        )
    }
    assert got == expected


ADMIT_KEYS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # doc_id
        st.integers(min_value=0, max_value=1),  # band
        st.integers(min_value=0, max_value=2),  # bucket
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t,
)


def _ref_admit(keys, ledger_buckets):
    """Pure-Python reference of lsh_admit_batch's documented first-seen
    semantics: drop on any ledger bucket collision, then keep the
    min-id doc per bucket among the remaining batch docs."""
    by_doc: dict = {}
    for d, b, k in keys:
        by_doc.setdefault(d, set()).add((b, k))
    dropped = {d for d, ks in by_doc.items() if ks & ledger_buckets}
    clean = {d: ks for d, ks in by_doc.items() if d not in dropped}
    owner: dict = {}
    for d, ks in clean.items():
        for bk in ks:
            owner[bk] = min(owner.get(bk, d), d)
    dropped |= {
        d for d, ks in clean.items() if any(owner[bk] < d for bk in ks)
    }
    return set(by_doc) - dropped


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=ADMIT_KEYS)
def test_lsh_admit_batch_matches_python_reference(spark, keys):
    """The admission kernel vs its first-seen reference, run as a
    two-batch SEQUENCE (even ids first, odd second — interleaved ids
    stress the cross-batch policy: first-seen wins, which is NOT the
    global min when a component's min arrives late). Also asserts the
    kernel's structural invariant: no two admitted docs ever share a
    (band, bucket). Randomized buckets produce the transitive-drop
    shapes (a doc dropped by a doc that was itself dropped) that
    hand-written fixtures under-sample."""
    from data_warehouse_flink_spark.functions.dedup import lsh_admit_batch

    schema = "doc_id long, band int, bucket long"
    batches = [
        [t for t in keys if t[0] % 2 == 0],
        [t for t in keys if t[0] % 2 == 1],
    ]

    # pure-Python sequential reference
    ledger_ref: set = set()
    admitted_ref: set = set()
    for batch in batches:
        adm = _ref_admit(batch, ledger_ref)
        admitted_ref |= adm
        ledger_ref |= {(b, k) for d, b, k in batch if d in adm}

    # the kernel, same sequence, ledger persisted between batches
    ledger_df = None
    admitted = set()
    for batch in batches:
        if not batch:
            continue
        kdf = spark.createDataFrame(batch, schema)
        adm_ids = {
            r.doc_id for r in lsh_admit_batch(kdf, ledger_df).collect()
        }
        admitted |= adm_ids
        new_keys = kdf.filter(F.col("doc_id").isin(list(adm_ids) or [-1]))
        ledger_df = (
            new_keys
            if ledger_df is None
            else ledger_df.unionByName(new_keys)
        )

    assert admitted == admitted_ref
    # structural invariant: one admitted doc per bucket, globally
    per_bucket: dict = {}
    for d, b, k in keys:
        if d in admitted:
            per_bucket.setdefault((b, k), set()).add(d)
    assert all(len(ds) <= 1 for ds in per_bucket.values())


BPE_DOCS = st.lists(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=4),
        min_size=1,
        max_size=5,
    ).map(lambda ws: " ".join(ws)),
    min_size=2,
    max_size=6,
)


def _bpe_repr(text):
    """BPE_BASE_REPR in pure Python: words char-spaced with a
    trailing space each, joined by the '|' boundary token, leading
    space."""
    return " " + "| ".join(
        "".join(c + " " for c in w) for w in text.split(" ")
    )


def _ref_bpe(texts, n_merges, batch_size):
    """Pure-Python twin of bpe_train_merges_batched: per epoch count
    adjacent non-boundary pairs over the current representations, order
    by (count desc, left, right) capped at the engine's candidate cap,
    greedily accept up to batch_size symbol-disjoint merges (skipping
    formed-concat hazards), apply each with the same non-overlapping
    ' a b ' -> ' ab ' string replace."""
    reprs = [_bpe_repr(t) for t in texts]
    cand_cap = 1 if batch_size == 1 else 4 * batch_size + 8
    out = []
    while len(out) < n_merges:
        counts: dict = {}
        for r in reprs:
            t = r.strip().split(" ")
            for i in range(len(t) - 1):
                if t[i] != "|" and t[i + 1] != "|":
                    counts[(t[i], t[i + 1])] = counts.get(
                        (t[i], t[i + 1]), 0
                    ) + 1
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        top = top[:cand_cap]
        if not top:
            break
        used: set = set()
        formed: set = set()
        accepted = []
        for (a, b), c in top:
            if (
                len(accepted) >= batch_size
                or len(out) + len(accepted) >= n_merges
            ):
                break
            if a in used or b in used or a in formed or b in formed:
                continue
            accepted.append((a, b, c))
            used.update((a, b))
            formed.add(a + b)
        for a, b, c in accepted:
            out.append((len(out), a, b, c))
            reprs = [
                r.replace(f" {a} {b} ", f" {a}{b} ") for r in reprs
            ]
    return out


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=BPE_DOCS)
def test_bpe_trainers_match_python_reference(spark, texts):
    """Both BPE training paths vs an independent pure-Python twin on
    randomized tiny corpora — a third implementation beside the Spark
    loop and the DuckDB oracle CTEs, cheap enough to randomize. Random
    'ab'-alphabet words produce exactly the adversarial shapes the
    designed fixtures enumerate by hand: overlapping pair occurrences
    (the non-overlapping-replace caveat), repeated winning pairs across
    ranks, and conflict-heavy epoch heads."""
    from data_warehouse_flink_spark.functions.text import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    n = 3
    assert bpe_train_merges(docs, n) == _ref_bpe(texts, n, batch_size=1)
    assert bpe_train_merges_batched(
        docs, n, batch_size=2
    ) == _ref_bpe(texts, n, batch_size=2)


DSIR_DOCS = st.lists(
    st.tuples(
        st.lists(
            st.sampled_from(["a", "b", "c", "ab", ""]),
            min_size=0,
            max_size=6,
        ),
        st.sampled_from(["en", "de"]),
    ),
    min_size=1,
    max_size=8,
)


def _ref_dsir(docs):
    """Pure-Python DSIR twin (md5 bucket path): per doc, grams are the
    single-space-split tokens plus adjacent space-joined bigrams (split
    keeps empty tokens — 'a  b' yields ['a', '', 'b'], exactly Spark's
    split(text, ' ')); bucket = first 7 md5 hex chars as an int mod
    _DSIR_BUCKETS; lr_micro rounds HALF-AWAY-FROM-ZERO in the decimal
    domain (BigDecimal HALF_UP == decimal.ROUND_HALF_UP on the exact
    binary double, the registry's cross-engine rounding convention)."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from data_warehouse_flink_spark.plans.llm_ops import _DSIR_BUCKETS

    b = _DSIR_BUCKETS
    grams = []  # (doc_id, is_t, bucket)
    for doc_id, (words, lang) in enumerate(docs):
        toks = " ".join(words).split(" ")
        gs = list(toks)
        if len(toks) >= 2:
            gs += [f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)]
        for g in gs:
            bucket = int(hashlib.md5(g.encode()).hexdigest()[:7], 16) % b
            grams.append((doc_id, lang == "en", bucket))
    rawn, tgtn = len(grams), sum(1 for _, t, _ in grams if t)
    bstats: dict[int, list[int]] = {}
    for _, is_t, bucket in grams:
        s = bstats.setdefault(bucket, [0, 0])
        s[0] += 1
        s[1] += int(is_t)
    lr = {
        bucket: int(
            Decimal(
                math.log(
                    ((tgtc + 1) / (tgtn + b)) / ((rawc + 1) / (rawn + b))
                )
                * 1_000_000.0
            ).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )
        for bucket, (rawc, tgtc) in bstats.items()
    }
    weights = {}
    for doc_id, _, bucket in grams:
        n, w = weights.get(doc_id, (0, 0))
        weights[doc_id] = (n + 1, w + lr[bucket])
    return grams, weights


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=DSIR_DOCS)
def test_dsir_weights_match_python_reference(spark, docs, monkeypatch):
    """The DSIR importance-weight pipeline (gate md5 path) vs an
    independent pure-Python twin — a third implementation beside the
    Spark plan and the DuckDB oracle, randomized over the shapes the
    fixed sf tables can't vary: empty tokens from repeated spaces,
    single-token docs (no bigrams), all-target and no-target corpora
    (the +1/+B smoothing arms), and multi-gram bucket collisions at
    B=1024. Checked at both observable layers so a failure localizes:
    the gram/bucket table (integer-only), then the final (n_grams,
    weight_micro, keep) rows including the half-up micro rounding —
    the per-bucket stats in between are a pure function of the gram
    table in both implementations."""
    from data_warehouse_flink_spark.plans import llm_ops

    frame = spark.createDataFrame(
        [(i, " ".join(words), lang) for i, (words, lang) in enumerate(docs)],
        "doc_id long, text string, lang string",
    )
    monkeypatch.setattr(llm_ops, "_docs", lambda s, d: frame)

    ref_grams, ref_weights = _ref_dsir(docs)

    got_grams = sorted(
        (r["doc_id"], r["is_t"], r["bucket"])
        for r in llm_ops._dsir_grams(spark, "unused", "md5").collect()
    )
    assert got_grams == sorted(ref_grams)

    got = {
        r["doc_id"]: (r["n_grams"], r["weight_micro"], r["keep"])
        for r in llm_ops._dsir_weights(spark, "unused", "md5").collect()
    }
    want = {
        doc_id: (n, w, w > 0) for doc_id, (n, w) in ref_weights.items()
    }
    assert got == want


SCD2_ROW = st.tuples(
    st.integers(min_value=0, max_value=3),                    # key
    st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # f1
    st.one_of(st.none(), st.sampled_from(["x", "y"])),        # f2
)
SCD2_BATCH = st.lists(SCD2_ROW, min_size=1, max_size=4, unique_by=lambda r: r[0])
SCD2_SEQ = st.tuples(SCD2_BATCH, st.lists(SCD2_BATCH, min_size=1, max_size=3))


def _ref_scd2(snapshot, batches):
    """Pure-Python SCD2 twin: per key a version list; an update row is a
    change iff its attr tuple differs from the key's current version
    (NULLs compared as values — None == None, None != x, matching the
    to_json ignoreNullFields=false hash); changes close the current row
    at the batch ts and append a new current version; identical rows
    are no-ops (idempotent replay)."""
    hist = {}  # key -> list of [f1, f2, from, to, is_current]
    for k, f1, f2 in snapshot:
        hist[k] = [[f1, f2, 100, None, True]]
    for i, batch in enumerate(batches):
        ts = 200 + 100 * i
        for k, f1, f2 in batch:
            versions = hist.setdefault(k, [])
            cur = next((v for v in versions if v[4]), None)
            if cur is not None and (cur[0], cur[1]) == (f1, f2):
                continue
            if cur is not None:
                cur[3], cur[4] = ts, False
            versions.append([f1, f2, ts, None, True])
    return sorted(
        (
            (k, v[0], v[1], v[2], v[3], v[4])
            for k, versions in hist.items()
            for v in versions
        ),
        key=_none_safe,
    )


def _none_safe(t):
    """Sort key for tuples with NULLs: None sorts before any value of the
    position's type, without ever comparing None to a non-None."""
    return tuple((v is not None, v) for v in t)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seq=SCD2_SEQ)
def test_scd2_apply_matches_python_reference(spark, seq):
    """scd2_init + a random batch sequence through scd2_apply vs the
    pure-Python version-list twin — a second independent implementation
    of the MERGE-emulation kernel the SCD2 gates (and the streaming
    foreachBatch twin) build on. Randomization covers what the fixed
    gate corpus can't: NULL attrs flipping to values and back, new keys
    arriving mid-sequence, identical-row replays (must be no-ops), and
    multi-version keys. Replaying the LAST batch once more is asserted
    to change nothing (idempotency, the operator's documented
    contract)."""
    from data_warehouse_flink_spark.operators.scd2 import (
        scd2_apply,
        scd2_init,
    )

    snapshot, batches = seq
    schema = "id long, f1 int, f2 string"
    hist = scd2_init(
        spark.createDataFrame(snapshot, schema), "id", ["f1", "f2"], ts_us=100
    )
    for i, batch in enumerate(batches):
        hist = scd2_apply(
            hist,
            spark.createDataFrame(batch, schema),
            "id",
            ["f1", "f2"],
            ts_us=200 + 100 * i,
        )
    hist = hist.localCheckpoint(eager=True)  # bound the lineage chain

    def rows(df):
        return sorted(
            (
                (r["id"], r["f1"], r["f2"], r["valid_from_us"],
                 r["valid_to_us"], r["is_current"])
                for r in df.collect()
            ),
            key=_none_safe,
        )

    assert rows(hist) == _ref_scd2(snapshot, batches)

    replay = scd2_apply(
        hist,
        spark.createDataFrame(batches[-1], schema),
        "id",
        ["f1", "f2"],
        ts_us=200 + 100 * len(batches),
    )
    assert rows(replay) == rows(hist)


ASOF_LEFT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=6),  # ts (epoch sec)
    ),
    min_size=1,
    max_size=12,
)
ASOF_RIGHT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=6),  # ts (epoch sec)
        st.one_of(st.none(), st.integers(min_value=0, max_value=9)),  # v
    ),
    max_size=12,
)


def _ref_asof(left, right, tol):
    """Pure-Python as-of twin: dedup right to one row per (key, ts) with
    max(v) ignoring NULLs (all-NULL stays NULL), then per left row take
    the greatest right ts <= left ts (inclusive), NULLed out when older
    than the tolerance."""
    dedup: dict[tuple, int | None] = {}
    for k, ts, v in right:
        cur = dedup.get((k, ts))
        dedup[(k, ts)] = v if cur is None else (cur if v is None else max(cur, v))
    out = []
    for k, ts in left:
        prior = [rts for (rk, rts) in dedup if rk == k and rts <= ts]
        if prior:
            rts = max(prior)
            if tol is not None and rts < ts - tol:
                out.append((k, ts, None, None))
            else:
                out.append((k, ts, rts, dedup[(k, rts)]))
        else:
            out.append((k, ts, None, None))
    return sorted(out, key=_none_safe)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=ASOF_LEFT,
    right=ASOF_RIGHT,
    tol=st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
)
def test_asof_join_matches_python_reference(spark, left, right, tol):
    """The union-scan as-of join vs a brute-force pure-Python twin on
    random key/ts grids — pins the inclusive at-equal-ts match (right
    sorts before left at the same instant), the per-(key, ts) right
    dedup with NULL-ignoring max (all-NULL payload stays NULL but the
    MATCH itself still happens: asof_ts set, asof_v NULL), no-prior-row
    NULLs, duplicate left rows, and the tolerance cutoff arm."""
    from data_warehouse_flink_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(left, "k long, e long").withColumn(
        "ts", F.timestamp_seconds(F.col("e"))
    )
    rdf = spark.createDataFrame(
        right, "k long, re long, v int"
    ).withColumn("rts", F.timestamp_seconds(F.col("re")))

    got = sorted(
        (
            (
                r["k"],
                r["e"],
                None if r["asof_ts"] is None else int(r["asof_ts"].timestamp()),
                r["asof_v"],
            )
            for r in asof_join(
                ldf.select("k", "e", "ts"),
                rdf.select("k", "rts", F.col("v").alias("v")),
                "k",
                "ts",
                "rts",
                ["v"],
                tolerance_sec=tol,
            )
            .withColumnRenamed("asof_v", "asof_v")
            .collect()
        ),
        key=_none_safe,
    )
    assert got == _ref_asof(left, right, tol)


CEP_EVENT = st.tuples(
    st.integers(min_value=0, max_value=2),   # key
    st.integers(min_value=0, max_value=9),   # ts (epoch sec)
    st.sampled_from(["f", "s", "o"]),        # event type
)
CEP_EVENTS = st.lists(
    CEP_EVENT,
    min_size=1,
    max_size=16,
    unique_by=lambda r: (r[0], r[1]),  # strict mode sorts by ts per key
)
# Relaxed mode keeps same-instant starts and completions (the lower bound's
# only distinguishing input) but no duplicate events.
CEP_RELAXED_EVENTS = st.lists(CEP_EVENT, min_size=1, max_size=16, unique=True)
CEP_STRICT = st.sampled_from(
    [("f", "f"), ("f", "f", "s"), ("f", "s", "f"), ("f", "f", "f")]
)
CEP_WITHIN = st.integers(min_value=1, max_value=3)


def _cep_frame(spark, events):
    return spark.createDataFrame(
        events, "k long, e long, et string"
    ).withColumn("ts", F.timestamp_seconds(F.col("e")))


def test_cep_strict_detect_matches_python_reference(spark):
    """The n-step strict-contiguity lag chain (Pattern.next, SURVEY §2.6)
    vs a pure-Python sliding-window reference: per key, every run of
    len(steps) CONSECUTIVE events whose types match positionally and
    whose span fits the bound — randomized over interleaved keys,
    non-matching events breaking runs, overlapping matches sharing
    events, and exact-boundary spans. The examples must match at least
    once, so the comparison is not between two empty sets."""
    from data_warehouse_flink_spark.operators.patterns import Pattern

    matched = []

    @settings(max_examples=5, deadline=None)
    @given(events=CEP_EVENTS, steps=CEP_STRICT, within=CEP_WITHIN)
    @example(events=[(0, 0, "f"), (0, 1, "f"), (0, 5, "s")], steps=("f", "f"),
             within=1)
    def check(events, steps, within):
        p = Pattern.begin("s0", F.col("et") == steps[0])
        for i, t in enumerate(steps[1:], start=1):
            p = p.next(f"s{i}", F.col("et") == t)
        df = _cep_frame(spark, events)
        got = sorted(
            tuple(r) for r in p.within(within).detect(df, "k", "ts").collect()
        )

        n = len(steps)
        want = []
        for k in {e[0] for e in events}:
            run = sorted((ts, et) for kk, ts, et in events if kk == k)
            for j in range(len(run) - n + 1):
                window = run[j : j + n]
                if all(
                    et == steps[i] for i, (_, et) in enumerate(window)
                ) and (window[-1][0] - window[0][0] <= within):
                    want.append((k, *(ts * 1_000_000 for ts, _ in window)))
        assert got == sorted(want)
        matched.append(bool(got))

    check()
    assert any(matched), "no example produced a strict match"


def test_cep_relaxed_detect_matches_python_reference(spark):
    """The followed_by join+argmin compilation (``completions`` and the
    ``detect`` matches filtered from it) vs a pure-Python reference: per
    first-step event the EARLIEST second-step event of the same key inside
    [first, first + within] — (first, first + within] under
    ``strictly_after`` — a timeout when none exists; matches plus
    timeouts account for every start. Randomized over firsts with
    multiple candidate seconds (argmin ties to the earliest), seconds
    preceding firsts, same-instant completions and boundary-exact
    completions; the pinned examples put a completion at the start's own
    instant, which only the lower bound decides."""
    from data_warehouse_flink_spark.operators.patterns import Pattern

    matched = []
    same_instant = [(0, 0, "f"), (0, 0, "s"), (0, 1, "s"), (1, 5, "f")]

    @settings(max_examples=5, deadline=None)
    @given(
        events=CEP_RELAXED_EVENTS,
        within=CEP_WITHIN,
        strictly_after=st.booleans(),
    )
    @example(events=same_instant, within=1, strictly_after=True)
    @example(events=same_instant, within=1, strictly_after=False)
    def check(events, within, strictly_after):
        p = (
            Pattern.begin("a", F.col("et") == "f")
            .followed_by("b", F.col("et") == "s", strictly_after)
            .within(within)
        )
        df = _cep_frame(spark, events)
        got = sorted(
            (r["k"], r["a_us"], r["b_us"])
            for r in p.completions(df, "k", "ts").collect()
        )
        got_m = sorted(tuple(r) for r in p.detect(df, "k", "ts").collect())

        want = []
        for k, ts, et in events:
            if et != "f":
                continue
            seconds = [
                s * 1_000_000
                for kk, s, e2 in events
                if kk == k
                and e2 == "s"
                and (ts < s if strictly_after else ts <= s)
                and s <= ts + within
            ]
            want.append((k, ts * 1_000_000, min(seconds, default=None)))
        assert got == sorted(want)  # (key, start) is unique: no None compares
        assert got_m == [r for r in got if r[2] is not None]
        n_timeouts = sum(r[2] is None for r in got)
        assert len(got_m) + n_timeouts == sum(et == "f" for _, _, et in events)
        matched.append(bool(got_m))

    check()
    assert any(matched), "no example produced a relaxed match"


ADC_CODES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # code0
        st.integers(min_value=0, max_value=3),  # code1
    ),
    min_size=1,
    max_size=10,
)
ADC_LOOKUP = st.tuples(
    st.lists(st.integers(min_value=0, max_value=9), min_size=4, max_size=4),
    st.lists(st.integers(min_value=0, max_value=9), min_size=4, max_size=4),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(codes=ADC_CODES, lookups=st.lists(ADC_LOOKUP, min_size=1, max_size=3))
def test_adc_topk_matches_python_reference(spark, codes, lookups):
    """The ADC ranking kernel vs a pure-Python twin on random code
    tables and per-query lookup arrays — pins the 1-based element_at
    indexing over 0-based codes, the integer distance sum, the
    (dist, neighbor_id) tie-break, and the same-id self-exclusion
    (query i never ranks corpus row i)."""
    from data_warehouse_flink_spark.functions.clustering import adc_topk

    k = 3
    cdf = spark.createDataFrame(
        [(i, c0, c1) for i, (c0, c1) in enumerate(codes)],
        "vec_id long, code0 int, code1 int",
    )
    ldf = spark.createDataFrame(
        [(q, list(d0), list(d1)) for q, (d0, d1) in enumerate(lookups)],
        "vec_id long, dl0 array<int>, dl1 array<int>",
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
        for r in adc_topk(cdf, ldf, k=k, m_subspaces=2).collect()
    )

    want = []
    for q, (d0, d1) in enumerate(lookups):
        ranked = sorted(
            (d0[c0] + d1[c1], i)
            for i, (c0, c1) in enumerate(codes)
            if i != q
        )
        want += [
            (q, i, dist, rn)
            for rn, (dist, i) in enumerate(ranked[:k], start=1)
        ]
    assert got == sorted(want)


SESS_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=20),   # ts (epoch sec)
        st.integers(min_value=0, max_value=999),  # event_id (unique)
    ),
    min_size=1,
    max_size=16,
    unique_by=lambda r: r[2],
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=SESS_EVENTS, gap=st.integers(min_value=1, max_value=5))
def test_sessionize_matches_python_reference(spark, events, gap):
    """The lag+cumsum sessionizer vs a pure-Python gap-splitting twin on
    random event sets — pins the strict > gap split rule (a gap of
    exactly gap_sec stays in-session), equal-ts ties ordered by
    event_id, 0-based per-key session ids, and single-event keys."""
    from data_warehouse_flink_spark.operators.detection import sessionize

    df = spark.createDataFrame(
        events, "user_id long, e long, event_id long"
    ).withColumn("ts", F.timestamp_seconds(F.col("e")))
    got = sorted(
        (r["user_id"], r["event_id"], r["session_id"])
        for r in sessionize(df, "user_id", "ts", gap_sec=gap).collect()
    )

    want = []
    for k in {e[0] for e in events}:
        run = sorted((ts, eid) for kk, ts, eid in events if kk == k)
        sid = -1
        prev = None
        for ts, eid in run:
            if prev is None or ts - prev > gap:
                sid += 1
            want.append((k, eid, sid))
            prev = ts
    assert got == sorted(want)


ZPOINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=31),  # x
        st.integers(min_value=0, max_value=31),  # y
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=ZPOINTS)
def test_zorder_matches_python_reference(spark, points):
    """The Morton bit-interleave vs a pure-Python twin over the full
    5-bit grid corners and random interior points, plus the quadtree
    guarantee the file assignment exists for: with file_shift=4 every
    z-file's min/max stats span < 2^(shift/2) = 4 in BOTH dimensions —
    the balanced-pruning property a 1-D sort cannot give."""
    from data_warehouse_flink_spark.operators.layout import (
        zorder_file_stats,
        zorder_value,
    )

    df = spark.createDataFrame(points, "x int, y int")
    got = [
        (r["x"], r["y"], r["z"])
        for r in df.select(
            "x", "y", zorder_value(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    for x, y, z in got:
        want = 0
        for b in range(5):
            want |= ((x >> b) & 1) << (2 * b + 1)
            want |= ((y >> b) & 1) << (2 * b)
        assert z == want

    stats = zorder_file_stats(
        df, F.col("x"), F.col("y"), bits=5, file_shift=4
    ).collect()
    assert sum(r["n_rows"] for r in stats) == len(points)
    for r in stats:
        assert r["max_x"] - r["min_x"] < 4
        assert r["max_y"] - r["min_y"] < 4


J1_LEFT = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # key
        st.integers(min_value=0, max_value=9),                        # payload
    ),
    max_size=8,
)
J1_RIGHT = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        st.integers(min_value=10, max_value=19),
    ),
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=J1_LEFT, right=J1_RIGHT)
def test_full_outer_match_matches_python_reference(spark, left, right):
    """The J1 batch kernel (full-outer + discriminator) vs a pure-Python
    twin — pins the multiplicity semantics (m matching left rows x n
    right rows emit m*n matched pairs), NULL-keyed rows never matching
    but still tagged with their ORIGIN side (the side-presence flags,
    not key NULL-ness), and duplicate whole rows surviving."""
    from data_warehouse_flink_spark.operators.joins import full_outer_match

    ldf = spark.createDataFrame(left, "k int, a int")
    rdf = spark.createDataFrame(right, "k int, b int")
    got = sorted(
        (tuple(r) for r in full_outer_match(ldf, rdf, ["k"]).collect()),
        key=_none_safe,
    )

    want = []
    for lk, a in left:
        rs = [(rk, b) for rk, b in right if lk is not None and rk == lk]
        if rs:
            want += [(lk, a, rk, b, "matched") for rk, b in rs]
        else:
            want.append((lk, a, None, None, "unmatched_left"))
    for rk, b in right:
        if rk is None or not any(lk == rk for lk, _ in left):
            want.append((None, None, rk, b, "unmatched_right"))
    assert got == sorted(want, key=_none_safe)


PANE_CONFIGS = st.sampled_from(
    [("1 hour", 3600, "15 minutes", 900), ("2 hours", 7200, "30 minutes", 1800),
     ("30 minutes", 1800, "5 minutes", 300), ("1 hour", 3600, None, None)]
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=WINDOW_ROWS, config=PANE_CONFIGS)
def test_windowed_count_matches_python_reference(spark, rows, config):
    """windowed_count's pane assignment vs a pure-Python epoch-grid
    reference — ABSOLUTE pane math over random configs (the two-level
    property test only proves the two Spark implementations agree with
    each other): an event at t lands in every epoch-aligned window
    [s, s+size) with s ≡ 0 (mod slide), tumbling when slide is None."""
    import datetime as dt

    from data_warehouse_flink_spark.operators.windows import windowed_count

    size, size_sec, slide, slide_sec = config
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    base = int(t0.timestamp())
    df = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s)) for k, s in rows],
        "k int, ts timestamp",
    )
    got = sorted(
        (r["window_start_sec"], r["window_end_sec"], r["k"], r["cnt"])
        for r in windowed_count(df, "ts", size, slide=slide, keys=["k"]).collect()
    )

    step = slide_sec or size_sec
    counts: dict[tuple, int] = {}
    for k, off in rows:
        t = base + off
        s = (t // step) * step
        while s + size_sec > t:
            counts[(s, s + size_sec, k)] = counts.get((s, s + size_sec, k), 0) + 1
            s -= step
    want = sorted((s, e, k, c) for (s, e, k), c in counts.items())
    assert got == want


ORDER_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # order_id
        st.sampled_from(["create", "pay"]),
        st.integers(min_value=0, max_value=30),       # ts offset sec
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda e: (e[0], e[2]),  # kernel sorts by ts per key
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=ORDER_EVENTS)
def test_order_timeout_stream_matches_python_reference(spark, tmp_path, events):
    """The C4/C5 stateful streaming kernel (applyInPandasWithState with
    event-time timers) vs a pure-Python state-machine twin on random
    order-event streams — randomizes what the 4-class outcome matrix
    enumerates by hand: multiple creates before a pay (LAST create
    wins), multiple pays (FIRST wins), pay arriving before create
    (still 'payed' — the reference has no lower bound), exact-boundary
    timeouts, and timer-only orders resolved by the watermark sentinel."""
    import datetime as dt
    import uuid as _uuid

    import pandas as pd

    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.state import (
        order_timeout_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    far = dt.datetime(2024, 6, 1)
    timeout = 10
    schema = "order_id long, event_type string, ts timestamp"
    main = pd.DataFrame(
        [
            {"order_id": o, "event_type": et, "ts": t0 + dt.timedelta(seconds=s)}
            for o, et, s in events
        ]
    )
    out_dir = str(tmp_path / _uuid.uuid4().hex)
    spark.createDataFrame(main, schema=schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out_dir)
    sentinel = pd.DataFrame(
        [{"order_id": 999, "event_type": "create", "ts": far}]
    )
    spark.createDataFrame(sentinel, schema=schema).coalesce(1).write.mode(
        "append"
    ).parquet(out_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out_dir)
    )
    got_pdf = run_stream_to_table(
        order_timeout_stream(stream, timeout_sec=timeout),
        spark,
        output_mode="append",
    ).toPandas()
    got_pdf = got_pdf[got_pdf.order_id != 999]
    got = sorted(
        (
            (
                int(r.order_id),
                r.result_type,
                None if pd.isna(r.create_us) else int(r.create_us),
                None if pd.isna(r.pay_us) else int(r.pay_us),
            )
            for r in got_pdf.itertuples(index=False)
        ),
        key=_none_safe,
    )

    # epoch micros of t0 under the SESSION timezone (what the kernel sees)
    base_us = (
        spark.createDataFrame([(t0,)], "ts timestamp")
        .select(F.unix_micros("ts").alias("us"))
        .collect()[0]["us"]
    )
    want = []
    for o in {e[0] for e in events}:
        evs = sorted((s, et) for oo, et, s in events if oo == o)
        create = pay = None
        emitted = None
        for s, et in evs:
            if et == "create":
                create = s
            elif pay is None:
                pay = s
            if create is not None and pay is not None:
                ok = (pay - create) <= timeout
                emitted = (
                    o, "payed" if ok else "payed_but_timeout", create, pay
                )
                break
        if emitted is None:
            if pay is None:
                emitted = (o, "timeout", create, None)
            else:
                emitted = (o, "pay_without_create", None, pay)
        want.append(
            (
                emitted[0],
                emitted[1],
                None if emitted[2] is None else base_us + emitted[2] * 1_000_000,
                None if emitted[3] is None else base_us + emitted[3] * 1_000_000,
            )
        )
    assert got == sorted(want, key=_none_safe)


TX_EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),             # tx_id
        st.sampled_from(["pay", "receipt"]),
        st.integers(min_value=0, max_value=30),       # ts offset sec
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda e: (e[0], e[2]),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=TX_EVENTS)
def test_tx_match_stream_matches_python_reference(spark, tmp_path, events):
    """The J1 streaming kernel (symmetric match + timeout side outputs)
    vs a pure-Python twin on random pay/receipt streams — pins the
    FIRST-event-per-side semantics (duplicate pays/receipts keep the
    earliest ts), receipt-before-pay still matching, and the
    timer-resolved unmatched classes on both sides."""
    import datetime as dt
    import uuid as _uuid

    import pandas as pd

    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.state import tx_match_stream

    t0 = dt.datetime(2024, 1, 1)
    far = dt.datetime(2024, 6, 1)
    schema = "tx_id string, ts timestamp"

    def write_side(side):
        rows = [
            {"tx_id": tx, "ts": t0 + dt.timedelta(seconds=s)}
            for tx, sd, s in events
            if sd == side
        ] or [{"tx_id": "warm", "ts": t0}]
        out = str(tmp_path / _uuid.uuid4().hex)
        spark.createDataFrame(pd.DataFrame(rows), schema=schema).coalesce(
            1
        ).write.mode("overwrite").parquet(out)
        spark.createDataFrame(
            pd.DataFrame([{"tx_id": "zz", "ts": far}]), schema=schema
        ).coalesce(1).write.mode("append").parquet(out)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )

    got_pdf = run_stream_to_table(
        tx_match_stream(write_side("pay"), write_side("receipt"), timeout_sec=5),
        spark,
        output_mode="append",
    ).toPandas()
    got_pdf = got_pdf[~got_pdf.tx_id.isin(["zz", "warm"])]
    got = sorted(
        (
            (
                r.tx_id,
                r.result_type,
                None if pd.isna(r.pay_us) else int(r.pay_us),
                None if pd.isna(r.receipt_us) else int(r.receipt_us),
            )
            for r in got_pdf.itertuples(index=False)
        ),
        key=_none_safe,
    )

    base_us = (
        spark.createDataFrame([(t0,)], "ts timestamp")
        .select(F.unix_micros("ts").alias("us"))
        .collect()[0]["us"]
    )
    us = lambda s: base_us + s * 1_000_000  # noqa: E731
    want = []
    for tx in {e[0] for e in events}:
        pays = sorted(s for t, sd, s in events if t == tx and sd == "pay")
        rcts = sorted(s for t, sd, s in events if t == tx and sd == "receipt")
        if pays and rcts:
            want.append((tx, "matched", us(pays[0]), us(rcts[0])))
        elif pays:
            want.append((tx, "unmatched_pay", us(pays[0]), None))
        else:
            want.append((tx, "unmatched_receipt", None, us(rcts[0])))
    assert got == sorted(want, key=_none_safe)


LOGIN_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),       # user_id
        st.sampled_from(["fail", "success"]),
        st.integers(min_value=0, max_value=20),      # ts offset sec
    ),
    min_size=1,
    max_size=14,
    unique_by=lambda e: (e[0], e[2]),
)


def _write_login_replay(spark, tmp_path, events):
    import datetime as dt
    import uuid as _uuid

    import pandas as pd

    t0 = dt.datetime(2024, 1, 1)
    far = dt.datetime(2024, 6, 1)
    schema = "user_id long, status string, ts timestamp"
    rows = [
        {"user_id": u, "status": st_, "ts": t0 + dt.timedelta(seconds=s)}
        for u, st_, s in events
    ]
    out = str(tmp_path / _uuid.uuid4().hex)
    spark.createDataFrame(pd.DataFrame(rows), schema=schema).coalesce(
        1
    ).write.mode("overwrite").parquet(out)
    spark.createDataFrame(
        pd.DataFrame([{"user_id": 999, "status": "success", "ts": far}]),
        schema=schema,
    ).coalesce(1).write.mode("append").parquet(out)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    base_us = (
        spark.createDataFrame([(t0,)], "ts timestamp")
        .select(F.unix_micros("ts").alias("us"))
        .collect()[0]["us"]
    )
    return stream, base_us


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=LOGIN_EVENTS, min_count=st.sampled_from([2, 3]))
def test_login_fail_stream_matches_python_reference(
    spark, tmp_path, events, min_count
):
    """The C2 threshold kernel vs a pure-Python twin on random
    fail/success streams — pins the per-event window prune (only fails
    within window_sec of the CURRENT fail count), the one-shot
    warn-then-reset, the success reset, and back-to-back bursts from
    one user emitting multiple warnings."""
    import pandas as pd

    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.state import login_fail_stream

    window_sec = 5
    stream, base_us = _write_login_replay(spark, tmp_path, events)
    got_pdf = run_stream_to_table(
        login_fail_stream(stream, window_sec=window_sec, min_count=min_count),
        spark,
        output_mode="append",
    ).toPandas()
    got_pdf = got_pdf[got_pdf.user_id != 999]
    got = sorted(
        (int(r.user_id), int(r.first_fail_us), int(r.last_fail_us),
         int(r.fail_cnt))
        for r in got_pdf.itertuples(index=False)
    )

    want = []
    for u in {e[0] for e in events}:
        run = sorted((s, st_) for uu, st_, s in events if uu == u)
        fails: list[int] = []
        for s, st_ in run:
            if st_ == "fail":
                fails.append(s)
                fails = [t for t in fails if s - t <= window_sec]
                if len(fails) >= min_count:
                    want.append(
                        (
                            u,
                            base_us + fails[0] * 1_000_000,
                            base_us + fails[-1] * 1_000_000,
                            len(fails),
                        )
                    )
                    fails = []
            else:
                fails = []
    assert got == sorted(want)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=LOGIN_EVENTS, gap=st.sampled_from([2, 4]))
def test_consecutive_fail_stream_matches_python_reference(
    spark, tmp_path, events, gap
):
    """The C1/C3 strict-pair kernel vs a pure-Python twin — pins the
    OVERLAPPING pair emissions (three consecutive fails emit two
    warnings), the strict any-event-in-between reset (a success breaks
    the pair even inside the gap), and the gap boundary (exactly
    gap_sec still qualifies)."""
    import pandas as pd

    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.state import (
        consecutive_fail_stream,
    )

    stream, base_us = _write_login_replay(spark, tmp_path, events)
    got_pdf = run_stream_to_table(
        consecutive_fail_stream(stream, max_gap_sec=gap),
        spark,
        output_mode="append",
    ).toPandas()
    got_pdf = got_pdf[got_pdf.user_id != 999]
    got = sorted(
        (int(r.user_id), int(r.first_fail_us), int(r.last_fail_us))
        for r in got_pdf.itertuples(index=False)
    )

    want = []
    for u in {e[0] for e in events}:
        run = sorted((s, st_) for uu, st_, s in events if uu == u)
        prev = None  # (ts, status)
        for s, st_ in run:
            if (
                st_ == "fail"
                and prev is not None
                and prev[1] == "fail"
                and s - prev[0] <= gap
            ):
                want.append(
                    (u, base_us + prev[0] * 1_000_000, base_us + s * 1_000_000)
                )
            prev = (s, st_)
    assert got == sorted(want)


CLICK_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),    # user_id
        st.integers(min_value=0, max_value=1),    # ad_id
        st.integers(min_value=0, max_value=60),   # hour offset (crosses days)
        st.integers(min_value=0, max_value=1),    # micro-batch
    ),
    min_size=1,
    max_size=14,
    unique_by=lambda e: (e[0], e[1], e[2]),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=CLICK_EVENTS)
def test_blacklist_stream_matches_python_reference(spark, tmp_path, events):
    """The C7/W11 daily-reset blacklist kernel vs a pure-Python twin —
    randomizes the day rollover (hour offsets crossing two midnights),
    the one-time warning with post-warn suppression, AND the late_click
    path, which is only reachable across micro-batches (a batch-2 event
    for a day the per-key state has already moved past): events carry a
    random batch assignment and the twin replays the same two-batch
    order. Wide watermark so arrival order, not the late-row filter,
    decides lateness."""
    import datetime as dt
    import uuid as _uuid

    import pandas as pd

    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table
    from data_warehouse_flink_spark.streaming.state import blacklist_stream

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ad_id long, ts timestamp"
    max_per_day = 2

    out = str(tmp_path / _uuid.uuid4().hex)
    for b in (0, 1):
        rows = [
            {"user_id": u, "ad_id": a, "ts": t0 + dt.timedelta(hours=h)}
            for u, a, h, bb in events
            if bb == b
        ] or [{"user_id": 998, "ad_id": 0, "ts": t0}]
        spark.createDataFrame(pd.DataFrame(rows), schema=schema).coalesce(
            1
        ).write.mode("overwrite" if b == 0 else "append").parquet(out)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    got_pdf = run_stream_to_table(
        blacklist_stream(stream, max_per_day=max_per_day, watermark="72 hours"),
        spark,
        output_mode="append",
    ).toPandas()
    got_pdf = got_pdf[got_pdf.user_id != 998]
    got = sorted(
        (int(r.user_id), int(r.ad_id), r.day, int(r.cnt), r.result_type)
        for r in got_pdf.itertuples(index=False)
    )

    state: dict[tuple, list] = {}  # (u, a) -> [day, cnt, warned]
    want = []
    for b in (0, 1):
        batch = sorted(
            (h, u, a) for u, a, h, bb in events if bb == b
        )  # kernel sorts each batch by ts
        for h, u, a in batch:
            day, cnt, warned = state.get((u, a), ("", 0, False))
            ev_day = (t0 + dt.timedelta(hours=h)).strftime("%Y-%m-%d")
            if ev_day < day:
                want.append((u, a, ev_day, 0, "late_click"))
                continue
            if ev_day > day:
                day, cnt, warned = ev_day, 0, False
            cnt += 1
            if cnt <= max_per_day:
                want.append((u, a, day, cnt, "click"))
            elif not warned:
                warned = True
                want.append((u, a, day, cnt, "blacklist_warning"))
            state[(u, a)] = [day, cnt, warned]
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# Join-layer twins: the skew/runtime-filter rewrites must be RESULT-invariant
# (they exist purely to move work between stages), and the two time-bounded
# joins must match a nested-loop reference.

JOIN_BIG = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key (small space -> hot keys)
        st.integers(min_value=0, max_value=999),  # unique row id
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[1],
)
JOIN_SMALL = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # key 4 never matches big
        st.integers(min_value=0, max_value=99),  # payload (dup keys allowed)
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: t,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(big=JOIN_BIG, small=JOIN_SMALL, buckets=st.integers(2, 4))
def test_salted_join_matches_plain_join(spark, big, small, buckets):
    """salted_join == the unsalted join, row-for-row (multiset), for inner
    AND left outer — the salt explode/split must never add or drop rows,
    including small-side duplicate keys (fan-out) and unmatched big rows
    (NULL payload under left)."""
    from collections import Counter

    from data_warehouse_flink_spark.operators.skew import salted_join

    bdf = spark.createDataFrame(big, "k int, id int")
    sdf = spark.createDataFrame(small, "k int, payload int")

    inner_want = Counter(
        (bk, bid, p) for bk, bid in big for sk, p in small if sk == bk
    )
    got = Counter(
        (r["k"], r["id"], r["payload"])
        for r in salted_join(bdf, sdf, "k", buckets, "id").collect()
    )
    assert got == inner_want

    matched = {bk for bk, _ in big for sk, _ in small if sk == bk}
    left_want = inner_want + Counter(
        (bk, bid, None) for bk, bid in big if bk not in matched
    )
    got_left = Counter(
        (r["k"], r["id"], r["payload"])
        for r in salted_join(bdf, sdf, "k", buckets, "id", how="left").collect()
    )
    assert got_left == left_want

    with pytest.raises(ValueError):
        salted_join(bdf, sdf, "k", buckets, "id", how="full_outer")


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(big=JOIN_BIG, small=JOIN_SMALL)
def test_runtime_pruned_join_matches_plain_join(spark, big, small):
    """runtime_pruned_join == the plain inner join (multiset): the broadcast
    semi pre-filter is a pure shuffle-volume optimization and must preserve
    small-side fan-out exactly; left_semi returns each matched big row once."""
    from collections import Counter

    from data_warehouse_flink_spark.operators.skew import runtime_pruned_join

    bdf = spark.createDataFrame(big, "k int, id int")
    sdf = spark.createDataFrame(small, "sk int, payload int")

    want = Counter(
        (bid, p) for bk, bid in big for sk, p in small if sk == bk
    )
    got = Counter(
        (r["id"], r["payload"])
        for r in runtime_pruned_join(bdf, sdf, "k", "sk").collect()
    )
    assert got == want

    semi_want = {bid for bk, bid in big if any(sk == bk for sk, _ in small)}
    got_semi = [
        r["id"]
        for r in runtime_pruned_join(bdf, sdf, "k", "sk", "left_semi").collect()
    ]
    assert sorted(got_semi) == sorted(semi_want)


TIMED_LEFT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=40),  # ts offset sec
        st.integers(min_value=0, max_value=499),  # unique id
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[2],
)
TIMED_RIGHT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=500, max_value=999),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[2],
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=TIMED_LEFT, right=TIMED_RIGHT, size_sec=st.sampled_from([5, 10]))
def test_window_join_matches_python(spark, left, right, size_sec):
    """J2 window_join vs nested loop: pair (l, r) iff key-equal AND both ts
    land in the same epoch-aligned tumbling bucket."""
    import datetime as dt

    from data_warehouse_flink_spark.operators.joins import window_join

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    base = int(t0.timestamp())
    ldf = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), i) for k, s, i in left],
        "k int, ts timestamp, lid int",
    )
    rdf = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), i) for k, s, i in right],
        "k int, ts timestamp, rid int",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in window_join(ldf, rdf, "k", "ts", f"{size_sec} seconds").collect()
    )
    want = sorted(
        (li, ri)
        for lk, ls, li in left
        for rk, rs, ri in right
        if lk == rk and (base + ls) // size_sec == (base + rs) // size_sec
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=TIMED_LEFT,
    right=TIMED_RIGHT,
    bounds=st.tuples(
        st.integers(min_value=-6, max_value=6),
        st.integers(min_value=-6, max_value=6),
    ).map(sorted),
)
def test_interval_join_matches_python(spark, left, right, bounds):
    """J3 interval_join vs nested loop: key-equal AND
    l.ts + lower <= r.ts <= l.ts + upper, including negative bounds
    (right-before-left windows, TxMatchWithJoin.scala's -5s lower)."""
    import datetime as dt

    from data_warehouse_flink_spark.operators.joins import interval_join

    lower, upper = bounds
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ldf = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), i) for k, s, i in left],
        "k int, lts timestamp, lid int",
    )
    rdf = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), i) for k, s, i in right],
        "k int, rts timestamp, rid int",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_join(
            ldf, rdf, "k", "lts", "rts", lower, upper
        ).collect()
    )
    want = sorted(
        (li, ri)
        for lk, ls, li in left
        for rk, rs, ri in right
        if lk == rk and ls + lower <= rs <= ls + upper
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=ROWS, n_parts=st.integers(min_value=1, max_value=4))
def test_top_n_per_group_partial_matches_python(spark, rows, n_parts):
    """top_n_per_group_partial (mapInPandas local top-N, then global rank)
    == the same pure-Python reference as top_n_per_group, across random
    physical partitionings — the local reduction must be lossless no matter
    how rows are scattered."""
    from data_warehouse_flink_spark.operators.topn import top_n_per_group_partial

    df = spark.createDataFrame(rows, "g int, v int, id int").repartition(n_parts)
    got = {
        (r["g"], r["id"])
        for r in top_n_per_group_partial(df, ["g"], "v", 2, ["id"]).collect()
    }
    want = set()
    for g in {r[0] for r in rows}:
        members = sorted(
            (r for r in rows if r[0] == g), key=lambda r: (-r[1], r[2])
        )
        want |= {(g, r[2]) for r in members[:2]}
    assert got == want


WINDOW_AGG_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),   # key
        st.integers(min_value=0, max_value=4),   # uid (collisions likely)
        st.integers(min_value=0, max_value=25),  # ts offset sec
        st.integers(min_value=-9, max_value=9),  # value
    ),
    min_size=1,
    max_size=20,
)
WINDOW_CONFIGS = st.sampled_from(
    [
        ("10 seconds", 10, None, None),
        ("10 seconds", 10, "5 seconds", 5),
        ("6 seconds", 6, "2 seconds", 2),
    ]
)


def _epoch_windows(t, size_sec, step):
    """Every epoch-aligned window [s, s+size) containing t, s ≡ 0 mod step."""
    s = (t // step) * step
    while s + size_sec > t:
        yield s
        s -= step


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=WINDOW_AGG_ROWS, config=WINDOW_CONFIGS)
def test_windowed_distinct_count_matches_python(spark, rows, config):
    """W8 windowed_distinct_count vs an epoch-grid + set reference, tumbling
    and sliding, keyed — count(DISTINCT) per pane-assigned window."""
    import datetime as dt

    from data_warehouse_flink_spark.operators.windows import (
        windowed_distinct_count,
    )

    size, size_sec, slide, slide_sec = config
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    base = int(t0.timestamp())
    df = spark.createDataFrame(
        [(k, u, t0 + dt.timedelta(seconds=s)) for k, u, s, _ in rows],
        "k int, uid int, ts timestamp",
    )
    got = sorted(
        (r["window_start_sec"], r["window_end_sec"], r["k"], r["uv"])
        for r in windowed_distinct_count(
            df, "ts", size, "uid", slide=slide, keys=["k"]
        ).collect()
    )
    step = slide_sec or size_sec
    sets: dict[tuple, set] = {}
    for k, u, off, _ in rows:
        for s in _epoch_windows(base + off, size_sec, step):
            sets.setdefault((s, s + size_sec, k), set()).add(u)
    want = sorted((s, e, k, len(us)) for (s, e, k), us in sets.items())
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=WINDOW_AGG_ROWS, config=WINDOW_CONFIGS)
def test_windowed_agg_matches_python(spark, rows, config):
    """windowed_agg with caller-supplied sum+max vs the epoch-grid reference
    (W7's field-sum shape plus a second aggregate through the same window)."""
    import datetime as dt

    from data_warehouse_flink_spark.operators.windows import windowed_agg

    size, size_sec, slide, slide_sec = config
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    base = int(t0.timestamp())
    df = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), v) for k, _, s, v in rows],
        "k int, ts timestamp, v int",
    )
    got = sorted(
        (r["window_start_sec"], r["window_end_sec"], r["k"], r["s"], r["mx"])
        for r in windowed_agg(
            df,
            "ts",
            size,
            [F.sum("v").alias("s"), F.max("v").alias("mx")],
            slide=slide,
            keys=["k"],
        ).collect()
    )
    step = slide_sec or size_sec
    vals: dict[tuple, list] = {}
    for k, _, off, v in rows:
        for s in _epoch_windows(base + off, size_sec, step):
            vals.setdefault((s, s + size_sec, k), []).append(v)
    want = sorted(
        (s, e, k, sum(vs), max(vs)) for (s, e, k), vs in vals.items()
    )
    assert got == want


# ---------------------------------------------------------------------------
# MinHash / LSH pipeline twins. The md5 gram-hash path (the one the
# doc_minhash_lsh gate's DuckDB oracle reproduces) is fully twin-able in
# pure Python: md5 prefix -> affine family mod 2^31-1 -> per-doc min.

GRAM_DOCS = st.lists(
    st.lists(
        st.sampled_from(["aa", "ab", "bc", "cd", "de", "ef"]),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=6,
)


def _minhash_twin(doc_grams, num_hashes):
    """Pure-Python minhash_signatures(gram_hash='md5'): independent
    reimplementation of the md5-prefix gram hash and the affine family
    (same seeded-generator CONTRACT as dedup._affine_constants, but
    regenerated here, not imported)."""
    import hashlib
    import random

    p = 2_147_483_647
    rng = random.Random(42)
    consts = [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)
    ]
    sigs = {}
    for doc_id, grams in doc_grams.items():
        gs = [
            int(hashlib.md5(g.encode("utf-8")).hexdigest()[:7], 16)
            for g in grams
        ]
        sigs[doc_id] = [min((g * a + b) % p for g in gs) for a, b in consts]
    return sigs


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=GRAM_DOCS)
def test_minhash_signatures_md5_match_python(spark, docs):
    from data_warehouse_flink_spark.functions.dedup import minhash_signatures

    grams = spark.createDataFrame(
        [(i, g) for i, gs in enumerate(docs) for g in gs],
        "doc_id int, gram string",
    )
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(
            grams, num_hashes=8, gram_hash="md5"
        ).collect()
    }
    want = _minhash_twin({i: gs for i, gs in enumerate(docs)}, 8)
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=GRAM_DOCS)
def test_lsh_candidate_pairs_match_slice_equality(spark, docs):
    """lsh_candidate_pairs == { (a,b) : some band's signature slice is
    EQUAL } — bucket-hash equality must add nothing beyond slice equality
    (a violation would be a 64-bit xxhash collision on this tiny space)
    and must never miss an equal slice."""
    from data_warehouse_flink_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    grams = spark.createDataFrame(
        [(i, g) for i, gs in enumerate(docs) for g in gs],
        "doc_id int, gram string",
    )
    sigs_df = minhash_signatures(grams, num_hashes=8, gram_hash="md5")
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(
            sigs_df, bands=4, rows_per_band=2
        ).collect()
    )
    sigs = _minhash_twin({i: gs for i, gs in enumerate(docs)}, 8)
    ids = sorted(sigs)
    want = sorted(
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if any(
            sigs[a][band * 2 : band * 2 + 2] == sigs[b][band * 2 : band * 2 + 2]
            for band in range(4)
        )
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=GRAM_DOCS, threshold=st.sampled_from([0.25, 0.5, 0.75]))
def test_verify_jaccard_on_candidates_matches_python(spark, docs, threshold):
    """verify_jaccard_on_candidates over the ALL-PAIRS candidate set vs an
    exact pure-Python Jaccard — the verify stage must neither inflate nor
    deflate |A∩B|/|A∪B| (hash_grams payload swap included), and the
    threshold filter must be >=."""
    from data_warehouse_flink_spark.functions.dedup import (
        verify_jaccard_on_candidates,
    )

    n = len(docs)
    grams = spark.createDataFrame(
        [(i, g) for i, gs in enumerate(docs) for g in gs],
        "doc_id int, gram string",
    )
    cand = spark.createDataFrame(
        [(a, b) for a in range(n) for b in range(a + 1, n)],
        "doc_a int, doc_b int",
    )
    for hash_grams in (True, False):
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in verify_jaccard_on_candidates(
                cand, grams, threshold, hash_grams=hash_grams
            ).collect()
        }
        want = {}
        for a in range(n):
            for b in range(a + 1, n):
                sa, sb = set(docs[a]), set(docs[b])
                jac = len(sa & sb) / len(sa | sb)
                if jac >= threshold:
                    want[(a, b)] = jac
        assert set(got) == set(want)
        for pair, jac in want.items():
            assert got[pair] == pytest.approx(jac, abs=1e-6)


# ---------------------------------------------------------------------------
# Count-min sketch twins: the md5-derived bucket map makes the whole sketch
# reproducible in pure Python — grid, point estimates, the CM upper-bound
# guarantee, and the from-counts == from-stream equivalence.

TOKEN_STREAMS = st.lists(
    st.sampled_from(["tok_a", "tok_b", "tok_c", "tok_d", "tok_e", "tok_f"]),
    min_size=1,
    max_size=40,
)


def _cm_bucket(token, row, width):
    import hashlib

    return int(hashlib.md5(f"{token}#{row}".encode()).hexdigest()[:8], 16) % width


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tokens=TOKEN_STREAMS)
def test_cm_sketch_matches_python(spark, tokens):
    from collections import Counter

    from data_warehouse_flink_spark.functions.sketches import (
        cm_estimate_for,
        cm_sketch_cells,
        cm_sketch_cells_from_counts,
    )

    depth, width = 3, 8  # narrow grid -> collisions are the common case
    tdf = spark.createDataFrame([(t,) for t in tokens], "token string")
    cells_df = cm_sketch_cells(tdf, depth=depth, width=width)
    got_cells = {
        (r["row"], r["bucket"]): r["cell_count"] for r in cells_df.collect()
    }

    true_counts = Counter(tokens)
    want_cells: dict[tuple, int] = {}
    for t, c in true_counts.items():
        for row in range(depth):
            key = (row, _cm_bucket(t, row, width))
            want_cells[key] = want_cells.get(key, 0) + c
    assert got_cells == want_cells

    interest = spark.createDataFrame(
        [(t,) for t in sorted(true_counts)], "token string"
    )
    got_est = {
        r["token"]: r["cm_estimate"]
        for r in cm_estimate_for(
            interest, cells_df, depth=depth, width=width
        ).collect()
    }
    for t, c in true_counts.items():
        want_est = min(
            want_cells[(row, _cm_bucket(t, row, width))] for row in range(depth)
        )
        assert got_est[t] == want_est
        assert got_est[t] >= c  # the count-min upper-bound guarantee

    counts_df = spark.createDataFrame(
        list(true_counts.items()), "token string, exact_count long"
    )
    got_from_counts = {
        (r["row"], r["bucket"]): r["cell_count"]
        for r in cm_sketch_cells_from_counts(
            counts_df, depth=depth, width=width
        ).collect()
    }
    assert got_from_counts == got_cells


# ---------------------------------------------------------------------------
# Vector-kernel twins. Every serving kernel rounds through HALF_UP decimal
# steps precisely so that it IS reproducible outside the JVM — these twins
# exercise that contract with numpy-free pure Python (Decimal replicates
# Spark's BigDecimal.valueOf(double) rounding via repr()).


def _rhu(x, scale):
    """Spark round(double, scale): HALF_UP on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    )


VEC64 = st.lists(
    st.lists(
        st.integers(min_value=-8, max_value=8).map(lambda k: k / 8.0),
        min_size=64,
        max_size=64,
    ).map(lambda v: [v[0] + 1.0] + v[1:]),  # nonzero norm, always
    min_size=3,
    max_size=5,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64, k=st.integers(min_value=1, max_value=3))
def test_knn_bruteforce_matches_python(spark, vecs, k):
    from data_warehouse_flink_spark.functions.similarity import knn_bruteforce

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") < 2)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rn"])
        for r in knn_bruteforce(emb, queries, k=k).collect()
    )

    import math

    norms = [math.sqrt(sum(x * x for x in v)) for v in vecs]
    want = []
    for q in range(min(2, len(vecs))):
        scored = sorted(
            (
                -float(_rhu(
                    sum(x * y for x, y in zip(vecs[q], vecs[n]))
                    / (norms[q] * norms[n]),
                    6,
                )),
                n,
            )
            for n in range(len(vecs))
            if n != q
        )
        want += [
            (q, n, -negcos, rn + 1)
            for rn, (negcos, n) in enumerate(scored[:k])
        ]
    assert got == sorted(want)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64)
def test_frozen_ivf_assign_matches_python(spark, vecs):
    """cell = argmin over the FROZEN centroids of round(||v-c||², 6) with
    first-index tie-break — the cross-engine-exact assignment contract."""
    from data_warehouse_flink_spark.functions.ivf_centroids import CENTROIDS
    from data_warehouse_flink_spark.functions.similarity import (
        frozen_ivf_assign,
    )

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["cell"] for r in frozen_ivf_assign(emb).collect()
    }
    want = {}
    for i, v in enumerate(vecs):
        dists = []
        for j, c in enumerate(CENTROIDS):
            acc = 0.0
            for x, y in zip(v, c):
                acc = acc + (x - y) * (x - y)
            dists.append((float(_rhu(acc, 6)), j))
        want[i] = min(dists)[1]
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64)
def test_pq_encode_matches_python(spark, vecs):
    """PQ codes vs pure Python: per-subspace integer-micro distance to each
    frozen codeword, lexicographic (d_micro, cidx) argmin."""
    from data_warehouse_flink_spark.functions.pq_codebooks import (
        CODEBOOKS,
        M_SUBSPACES,
        SUB_DIM,
    )
    from data_warehouse_flink_spark.functions.similarity import pq_encode

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    got = {
        r["vec_id"]: [r[f"code{m}"] for m in range(M_SUBSPACES)]
        for r in pq_encode(emb).collect()
    }
    want = {}
    for i, v in enumerate(vecs):
        codes = []
        for m in range(M_SUBSPACES):
            sub = v[m * SUB_DIM : (m + 1) * SUB_DIM]
            best = None
            for cidx, cw in enumerate(CODEBOOKS[m]):
                acc = 0.0
                for x, y in zip(sub, cw):
                    acc = acc + (x - y) * (x - y)
                micro = int(_rhu(float(_rhu(acc, 6)) * 1000000.0, 0))
                if best is None or (micro, cidx) < best:
                    best = (micro, cidx)
            codes.append(best[1])
        want[i] = codes
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64)
def test_sq8_encode_matches_python(spark, vecs):
    """SQ8 codes/checksum/preview/err vs pure Python: per-dim corpus min/max
    ranges, half-up affine codes with clamping, flat dims to 0, and the
    reconstruction error accumulated in the same index order."""
    import math

    from data_warehouse_flink_spark.functions.similarity import sq8_encode

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["code_checksum"], r["codes_preview"], r["err_micro"])
        for r in sq8_encode(emb).collect()
    }
    dim = 64
    lo = [min(v[d] for v in vecs) for d in range(dim)]
    hi = [max(v[d] for v in vecs) for d in range(dim)]
    want = {}
    for i, v in enumerate(vecs):
        codes = []
        for d in range(dim):
            if hi[d] == lo[d]:
                codes.append(0)
            else:
                raw = math.floor(
                    (v[d] - lo[d]) / (hi[d] - lo[d]) * 255.0 + 0.5
                )
                codes.append(int(min(max(raw, 0), 255)))
        acc = 0.0
        for d in range(dim):
            rec = lo[d] + codes[d] / 255.0 * (hi[d] - lo[d])
            acc = acc + (v[d] - rec) * (v[d] - rec)
        want[i] = (
            sum(codes),
            " ".join(str(c) for c in codes[:8]),
            int(_rhu(acc * 1000000.0, 0)),
        )
    assert got == want


# ---------------------------------------------------------------------------
# Text-function twins: tokenizer-derived quality features, the frozen
# linear quality model (exact integer arithmetic), marker language-ID with
# its tie rules, md5 fingerprinting, and URL canonicalization vs python re.

_TEXT_VOCAB = [
    "the", "a", "of", "and", "is", "der", "und", "ist", "le", "la",
    "les", "est", "el", "los", "y", "es", "xyz", "qq", "foo", "",
]
TEXTS = st.lists(
    st.lists(st.sampled_from(_TEXT_VOCAB), min_size=1, max_size=12).map(
        " ".join
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=TEXTS)
def test_quality_features_matches_python(spark, texts):
    from data_warehouse_flink_spark.functions.text import (
        STOPWORDS,
        quality_features,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_chars_text"],
            r["n_tokens"],
            r["n_stopwords"],
            r["stop_ratio"],
            r["avg_token_len"],
        )
        for r in quality_features(df).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")  # same trailing-empty semantics as F.split
        n_tok = len(toks)
        n_stop = sum(1 for w in toks if w in STOPWORDS)
        want[i] = (
            len(t),
            n_tok,
            n_stop,
            float(_rhu(n_stop / n_tok, 6)),
            float(_rhu((len(t) - (n_tok - 1)) / n_tok, 6)),
        )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=TEXTS)
def test_fingerprint_matches_python(spark, texts):
    import hashlib

    from data_warehouse_flink_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["md5_hex"], r["fp64_hex"])
        for r in fingerprint(df).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        h = hashlib.md5(t.lower().encode("utf-8")).hexdigest()
        want[i] = (h, h[:16])
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=TEXTS)
def test_language_id_matches_python(spark, texts):
    """Argmax over marker counts; ties (e.g. 'la' is both fr and es) go to
    the lexicographically smallest language code, all-zero goes to unk."""
    from data_warehouse_flink_spark.functions.text import (
        LANG_MARKERS,
        language_id,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        counts = {
            lang: sum(1 for w in toks if w in markers)
            for lang, markers in LANG_MARKERS.items()
        }
        best = max(counts.values())
        want[i] = (
            min(l for l, c in counts.items() if c == best)
            if best > 0
            else "unk"
        )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=TEXTS)
def test_linear_quality_score_matches_python(spark, texts):
    from data_warehouse_flink_spark.functions.text import (
        QUALITY_WEIGHTS,
        STOPWORDS,
        linear_quality_score,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["stop_ppm"],
            r["dup_ppm"],
            r["avg_len_centi"],
            r["quality_score"],
            r["keep"],
        )
        for r in linear_quality_score(df).collect()
    }
    w = QUALITY_WEIGHTS
    want = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        n_tok = len(toks)
        stop_ppm = sum(1 for x in toks if x in STOPWORDS) * 1_000_000 // n_tok
        avg_len_centi = (len(t) - (n_tok - 1)) * 100 // n_tok
        grams = (
            [" ".join(toks[j : j + 3]) for j in range(n_tok - 2)]
            if n_tok >= 3
            else []
        )
        dup_ppm = (
            (len(grams) - len(set(grams))) * 1_000_000 // len(grams)
            if grams
            else 0
        )
        score = (
            w["bias"]
            + w["w_tokens"] * n_tok
            + w["w_stop_ppm"] * stop_ppm
            + w["w_dup_ppm"] * dup_ppm
            + w["w_len_dev"] * abs(avg_len_centi - w["len_center_centi"])
        )
        want[i] = (n_tok, stop_ppm, dup_ppm, avg_len_centi, score, score >= 0)
    assert got == want


URLS = st.tuples(
    st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
    st.sampled_from(
        ["Example.COM", "www.Example.com", "a-b.org", "WWW.X.NET", "h8"]
    ),
    st.lists(st.sampled_from(["Path", "p1", "Q"]), max_size=3),
    st.sampled_from(["", "/"]),
    st.sampled_from(["", "?q=1", "#frag", "?a=1#b", "?"]),
    st.booleans(),  # drop the scheme entirely (relative-ish URL)
).map(
    lambda t: (
        (f"{t[0]}://{t[1]}" if not t[5] else t[1])
        + "".join("/" + s for s in t[2])
        + t[3]
        + t[4]
    )
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(urls=st.lists(URLS, min_size=1, max_size=8))
def test_canonicalize_url_matches_python(spark, urls):
    """canonicalize_url vs python re: query/fragment strip, case-folded
    scheme://host (path case preserved), www. drop, trailing-slash trim —
    including schemeless inputs where the head regex matches nothing."""
    import re

    from data_warehouse_flink_spark.functions.text import canonicalize_url

    df = spark.createDataFrame(
        list(enumerate(urls)), "i int, url string"
    )
    got = {
        r["i"]: r["canon"]
        for r in df.select(
            "i", canonicalize_url(F.col("url")).alias("canon")
        ).collect()
    }
    want = {}
    for i, u in enumerate(urls):
        no_q = re.sub(r"[?#].*", "", u)
        m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]+", no_q)
        head = m.group(0) if m else ""
        path = no_q[len(head):]
        want[i] = head.lower().replace("://www.", "://") + re.sub(
            r"/$", "", path
        )
    assert got == want


def test_canonicalize_url_hand_written_cases(spark):
    """Hand-computed expected outputs for the tricky canonicalization
    cases (ADVICE r11: the randomized twin shares the implementation's
    regex pipeline, so a shared regex quirk would pass both — these
    expectations were derived by hand from the documented contract, not
    by running either implementation)."""
    from data_warehouse_flink_spark.functions.text import canonicalize_url

    cases = [
        # scheme+host case-folded, www dropped, trailing slash trimmed,
        # PATH case preserved
        ("HtTpS://WWW.Example.COM/Path/p1/", "https://example.com/Path/p1"),
        # schemeless www: head regex matches nothing -> the whole string
        # is "path", so NO case fold and NO www drop (pinned contract)
        ("www.Example.com/Path", "www.Example.com/Path"),
        # bare '?' -> empty after query strip
        ("?", ""),
        # trailing '?' with nothing after it
        ("http://example.com?", "http://example.com"),
        # fragment stripped, uppercase scheme folded
        ("HTTP://a-b.org#frag", "http://a-b.org"),
        # root slash IS the trailing slash
        ("http://Example.COM/", "http://example.com"),
        # query begins at the root slash -> strip, then nothing to trim
        ("http://example.com/?q=1", "http://example.com"),
        # no path at all
        ("https://example.com", "https://example.com"),
        # port belongs to the host ([^/]+ spans it)
        ("https://Example.com:8080/A/", "https://example.com:8080/A"),
        # '://' later in the string is path content: no fold, no www drop
        ("ftp.example.com/HTTP://x", "ftp.example.com/HTTP://x"),
        # www-drop applies to the HEAD only, never inside the path
        ("http://a.com/x://www.b/", "http://a.com/x://www.b"),
        # query containing '://www.' is stripped before anything else
        ("http://WWW.a.com/p?next=http://www.b.com/", "http://a.com/p"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i int, url string"
    )
    got = {
        r["i"]: r["canon"]
        for r in df.select(
            "i", canonicalize_url(F.col("url")).alias("canon")
        ).collect()
    }
    assert got == {i: want for i, (_, want) in enumerate(cases)}


# ---------------------------------------------------------------------------
# Hyperplane-LSH and IVF serving-path end-to-end twins, plus the two
# entry-level dedup primitives.


def _hp_bucket_twin(vec, planes):
    bucket = 0
    for j, plane in enumerate(planes):
        acc = 0.0
        for x, y in zip(vec, plane):
            acc = acc + x * float(y)
        if float(_rhu(acc, 6)) > 0:
            bucket += 2 ** j
    return bucket


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64, k=st.integers(min_value=1, max_value=3))
def test_knn_lsh_matches_python(spark, vecs, k):
    """random_hyperplane_buckets' rounded sign bits AND knn_lsh's
    rank-within-equal-bucket, both vs pure Python over the same seeded
    plane matrix."""
    import math

    from data_warehouse_flink_spark.functions.similarity import (
        hyperplanes,
        knn_lsh,
        random_hyperplane_buckets,
    )

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    planes = hyperplanes(8, 64)
    got_buckets = {
        r["vec_id"]: r["bucket"]
        for r in random_hyperplane_buckets(emb).collect()
    }
    want_buckets = {
        i: _hp_bucket_twin(v, planes) for i, v in enumerate(vecs)
    }
    assert got_buckets == want_buckets

    queries = emb.filter(F.col("vec_id") < 2)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rn"])
        for r in knn_lsh(emb, queries, k=k).collect()
    )
    norms = [math.sqrt(sum(x * x for x in v)) for v in vecs]
    want = []
    for q in range(min(2, len(vecs))):
        scored = sorted(
            (
                -float(_rhu(
                    sum(x * y for x, y in zip(vecs[q], vecs[n]))
                    / (norms[q] * norms[n]),
                    6,
                )),
                n,
            )
            for n in range(len(vecs))
            if n != q and want_buckets[n] == want_buckets[q]
        )
        want += [
            (q, n, -negcos, rn + 1)
            for rn, (negcos, n) in enumerate(scored[:k])
        ]
    assert got == sorted(want)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64, k=st.integers(min_value=1, max_value=3))
def test_knn_ivf_matches_python(spark, vecs, k):
    """knn_ivf end-to-end (nprobe=1): exact rounded-cosine rank restricted
    to the query's frozen-centroid cell, vs pure Python."""
    import math

    from data_warehouse_flink_spark.functions.ivf_centroids import CENTROIDS
    from data_warehouse_flink_spark.functions.similarity import knn_ivf

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") < 2)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rn"])
        for r in knn_ivf(emb, queries, k=k).collect()
    )

    cells = {}
    for i, v in enumerate(vecs):
        dists = []
        for j, c in enumerate(CENTROIDS):
            acc = 0.0
            for x, y in zip(v, c):
                acc = acc + (x - y) * (x - y)
            dists.append((float(_rhu(acc, 6)), j))
        cells[i] = min(dists)[1]
    norms = [math.sqrt(sum(x * x for x in v)) for v in vecs]
    want = []
    for q in range(min(2, len(vecs))):
        scored = sorted(
            (
                -float(_rhu(
                    sum(x * y for x, y in zip(vecs[q], vecs[n]))
                    / (norms[q] * norms[n]),
                    6,
                )),
                n,
            )
            for n in range(len(vecs))
            if n != q and cells[n] == cells[q]
        )
        want += [
            (q, n, -negcos, rn + 1)
            for rn, (negcos, n) in enumerate(scored[:k])
        ]
    assert got == sorted(want)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=TEXTS, n=st.integers(min_value=1, max_value=3))
def test_exact_dedup_and_word_ngrams_match_python(spark, texts, n):
    """exact_dedup_groups (case-folded md5 groups, min-id canonical) and
    word_ngrams (DISTINCT shingles, short docs yield none) vs pure Python."""
    import hashlib

    from data_warehouse_flink_spark.functions.dedup import (
        exact_dedup_groups,
        word_ngrams,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got_groups = {
        r["text_hash"]: (r["canonical_doc_id"], r["n_docs"])
        for r in exact_dedup_groups(df).collect()
    }
    want_groups: dict[str, list] = {}
    for i, t in enumerate(texts):
        h = hashlib.md5(t.lower().encode("utf-8")).hexdigest()
        cur = want_groups.setdefault(h, [i, 0])
        cur[1] += 1
    assert got_groups == {h: tuple(v) for h, v in want_groups.items()}

    got_grams = {
        (r["doc_id"], r["gram"]) for r in word_ngrams(df, n).collect()
    }
    want_grams = set()
    for i, t in enumerate(texts):
        toks = t.split(" ")
        for j in range(len(toks) - n + 1):
            want_grams.add((i, " ".join(toks[j : j + n])))
    assert got_grams == want_grams


# ---------------------------------------------------------------------------
# Streaming-mart upsert twins: whatever the micro-batch slicing, the final
# mart table must equal the one-shot batch aggregate over all events —
# the MERGE idiom (bucket pruning, anti-join, staging) and the dynamic
# partition overwrite must both converge to the same fixpoint.

MART_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=9),   # value
        st.integers(min_value=0, max_value=2),   # micro-batch (file) index
    ),
    min_size=1,
    max_size=18,
)


def _write_mart_batches(spark, tmp_path, events, n_files):
    import uuid as _uuid

    src = str(tmp_path / _uuid.uuid4().hex)
    for b in range(n_files):
        batch = [(k, v) for k, v, bb in events if bb == b]
        spark.createDataFrame(batch, "k long, v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=MART_EVENTS, n_buckets=st.sampled_from([1, 4]))
def test_merge_upsert_stream_matches_batch_aggregate(
    spark, tmp_path, events, n_buckets
):
    """merge_upsert_foreachbatch over a random micro-batch slicing of a
    running per-key sum == the one-shot groupBy sum: exactly one row per
    key survives the anti-join/union MERGE, including keys updated in
    several micro-batches and empty micro-batches, at both a single
    shared bucket and a spread."""
    import uuid as _uuid

    from collections import Counter

    from data_warehouse_flink_spark.streaming.mart import (
        merge_upsert_foreachbatch,
    )

    stream = _write_mart_batches(spark, tmp_path, events, 3)
    agg = stream.groupBy("k").agg(F.sum("v").alias("total"))
    path = str(tmp_path / _uuid.uuid4().hex)
    q = merge_upsert_foreachbatch(agg, path, ["k"], n_buckets=n_buckets)
    q.awaitTermination()

    got = {
        r["k"]: r["total"]
        for r in spark.read.parquet(path).select("k", "total").collect()
    }
    want = Counter()
    for k, v, _ in events:
        want[k] += v
    assert got == dict(want)
    assert spark.read.parquet(path).count() == len(want)  # one row per key


# ---------------------------------------------------------------------------
# End-to-end streaming-curation twins: the flagship near-dedup ingest loop
# (shingle -> md5 minhash -> band -> ledger admission, replayed over three
# micro-batches) and the exact-dedup quality gate, each vs pure Python.

NEAR_DEDUP_DOCS = st.lists(
    st.tuples(
        st.lists(
            st.sampled_from(["red", "blue", "fox", "dog", "run", "sit"]),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        st.integers(min_value=0, max_value=2),  # micro-batch index
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=NEAR_DEDUP_DOCS)
def test_near_dedup_stream_matches_python(spark, tmp_path, docs):
    """near_dedup_stream (gram_hash='md5', 8 hashes x 4 bands) vs a pure
    Python replay: per batch, shingle -> md5 minhash (the _minhash_twin
    reference) -> band SLICES as ledger keys (bucket-hash equality is
    slice equality modulo a 64-bit collision) -> the _ref_admit
    first-seen admission, short docs always admitted. Pins the whole
    streaming path — signature math, banding, ledger persistence across
    micro-batches, keyless bypass — not just the admission kernel."""
    import uuid as _uuid

    from data_warehouse_flink_spark.streaming.curation import (
        near_dedup_stream,
    )

    num_hashes, bands, ngram = 8, 4, 3
    rpb = num_hashes // bands
    src = str(tmp_path / _uuid.uuid4().hex)
    for b in range(3):
        batch = [(i, t) for i, (t, bb) in enumerate(docs) if bb == b]
        spark.createDataFrame(
            batch, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / _uuid.uuid4().hex)
    out = str(tmp_path / _uuid.uuid4().hex)
    q = near_dedup_stream(
        stream,
        state,
        out,
        ngram=ngram,
        num_hashes=num_hashes,
        bands=bands,
        gram_hash="md5",
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}

    ledger: set = set()
    want: set = set()
    for b in range(3):
        keys = []
        for i, (t, bb) in enumerate(docs):
            if bb != b:
                continue
            toks = t.split(" ")
            grams = {
                " ".join(toks[j : j + ngram])
                for j in range(len(toks) - ngram + 1)
            }
            if not grams:
                want.add(i)  # too short to shingle: always admitted
                continue
            sig = _minhash_twin({i: sorted(grams)}, num_hashes)[i]
            for band in range(bands):
                keys.append(
                    (i, band, tuple(sig[band * rpb : band * rpb + rpb]))
                )
        adm = _ref_admit(keys, ledger)
        want |= adm
        ledger |= {(band, sl) for d, band, sl in keys if d in adm}
    assert got == want


CURATE_DOCS = st.lists(
    st.tuples(
        st.sampled_from(["short", "x" * 150, "y" * 160, "z" * 150]),
        st.sampled_from(["en", "zh", "de"]),
        st.integers(min_value=0, max_value=2),  # micro-batch index
    ),
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=CURATE_DOCS)
def test_curate_stream_matches_python(spark, tmp_path, docs):
    """curate_stream (quality gate + global streaming exact dedup) vs pure
    Python: exactly one emitted row per distinct content hash among the
    gated docs, regardless of the micro-batch slicing. (WHICH duplicate
    survives intra-batch is engine-undefined, so the pin is on the hash
    set, not doc ids.)"""
    import hashlib
    import uuid as _uuid

    from data_warehouse_flink_spark.streaming.curation import curate_stream
    from data_warehouse_flink_spark.streaming.jobs import run_stream_to_table

    src = str(tmp_path / _uuid.uuid4().hex)
    for b in range(3):
        batch = [
            (i, t, len(t), lang)
            for i, (t, lang, bb) in enumerate(docs)
            if bb == b
        ]
        spark.createDataFrame(
            batch, "doc_id long, text string, n_chars long, lang string"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, n_chars long, lang string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got_rows = run_stream_to_table(
        curate_stream(stream), spark, output_mode="append"
    ).collect()
    got = sorted(r["text_hash"] for r in got_rows)

    want = sorted(
        {
            hashlib.md5(t.lower().encode()).hexdigest()
            for t, lang, _ in docs
            if len(t) >= 150 and lang in ("en", "zh")
        }
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=WINDOW_AGG_ROWS, config=WINDOW_CONFIGS)
def test_windowed_approx_distinct_checked_contract(spark, rows, config):
    """W9's checkable error contract on random streams: uv_exact must
    equal the pure-Python per-window distinct count, and within_bound
    must be UNIFORMLY true — the |approx-exact| <= max(5*rsd*exact, 3)
    envelope holds on any input (a broken sketch merge deviates by whole
    buckets and trips it).

    The uniform within_bound assertion is only safe because
    WINDOW_AGG_ROWS draws uids from a 5-value domain: at <=5 distinct
    values per window HLL++ answers exactly (sparse mode), so the bound
    is deterministic here, not probabilistic. Widening the uid domain
    past the sketch's exact-at-small-cardinality regime would turn this
    into a flake — bound the strategy with the assert below instead of
    widening silently."""
    assert all(0 <= r[1] <= 4 for r in rows)  # uid domain: HLL-exact regime
    import datetime as dt

    from data_warehouse_flink_spark.operators.windows import (
        windowed_approx_distinct_checked,
    )

    size, size_sec, slide, slide_sec = config
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    base = int(t0.timestamp())
    df = spark.createDataFrame(
        [(u, t0 + dt.timedelta(seconds=s)) for _, u, s, _ in rows],
        "uid int, ts timestamp",
    )
    got = {
        (r["window_start_sec"], r["window_end_sec"]): (
            r["uv_exact"],
            r["within_bound"],
        )
        for r in windowed_approx_distinct_checked(
            df, "ts", size, "uid", slide=slide
        ).collect()
    }
    step = slide_sec or size_sec
    sets: dict[tuple, set] = {}
    for _, u, off, _ in rows:
        for s in _epoch_windows(base + off, size_sec, step):
            sets.setdefault((s, s + size_sec), set()).add(u)
    assert got == {k: (len(us), True) for k, us in sets.items()}


def _pq_d_micro(sub, cw):
    acc = 0.0
    for x, y in zip(sub, cw):
        acc = acc + (x - float(y)) * (x - float(y))
    return int(_rhu(float(_rhu(acc, 6)) * 1000000.0, 0))


def _pq_codes_twin(vec):
    from data_warehouse_flink_spark.functions.pq_codebooks import (
        CODEBOOKS,
        M_SUBSPACES,
        SUB_DIM,
    )

    codes = []
    for m in range(M_SUBSPACES):
        sub = vec[m * SUB_DIM : (m + 1) * SUB_DIM]
        best = min(
            (_pq_d_micro(sub, cw), cidx)
            for cidx, cw in enumerate(CODEBOOKS[m])
        )
        codes.append(best[1])
    return codes


def _ivf_cell_twin(vec):
    from data_warehouse_flink_spark.functions.ivf_centroids import CENTROIDS

    dists = []
    for j, c in enumerate(CENTROIDS):
        acc = 0.0
        for x, y in zip(vec, c):
            acc = acc + (x - y) * (x - y)
        dists.append((float(_rhu(acc, 6)), j))
    return min(dists)[1]


def _adc_twin(qvec, codes):
    from data_warehouse_flink_spark.functions.pq_codebooks import (
        CODEBOOKS,
        M_SUBSPACES,
        SUB_DIM,
    )

    total = 0
    for m in range(M_SUBSPACES):
        sub = qvec[m * SUB_DIM : (m + 1) * SUB_DIM]
        total += _pq_d_micro(sub, CODEBOOKS[m][codes[m]])
    return total / 1000000.0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64, k=st.integers(min_value=1, max_value=3))
def test_knn_pq_matches_python(spark, vecs, k):
    """knn_pq end-to-end: ADC over the PQ-coded corpus (integer micro-unit
    lookups summed per pair, /1e6, asc rank with id tie-break) vs pure
    Python composing the pq_encode twin with the ADC table."""
    from data_warehouse_flink_spark.functions.similarity import knn_pq

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") < 2)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
        for r in knn_pq(emb, queries, k=k).collect()
    )
    codes = {i: _pq_codes_twin(v) for i, v in enumerate(vecs)}
    want = []
    for q in range(min(2, len(vecs))):
        scored = sorted(
            (_adc_twin(vecs[q], codes[n]), n)
            for n in range(len(vecs))
            if n != q
        )
        want += [
            (q, n, d, rn + 1) for rn, (d, n) in enumerate(scored[:k])
        ]
    assert got == sorted(want)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64, k=st.integers(min_value=1, max_value=3))
def test_knn_ivf_pq_matches_python(spark, vecs, k):
    """knn_ivf_pq end-to-end: the ADC scan of knn_pq restricted to the
    query's frozen coarse cell (nprobe=1) — the FAISS-IVFPQ layout — vs
    pure Python composing the cell twin with the ADC twin."""
    from data_warehouse_flink_spark.functions.similarity import knn_ivf_pq

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") < 2)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
        for r in knn_ivf_pq(emb, queries, k=k).collect()
    )
    codes = {i: _pq_codes_twin(v) for i, v in enumerate(vecs)}
    cells = {i: _ivf_cell_twin(v) for i, v in enumerate(vecs)}
    want = []
    for q in range(min(2, len(vecs))):
        scored = sorted(
            (_adc_twin(vecs[q], codes[n]), n)
            for n in range(len(vecs))
            if n != q and cells[n] == cells[q]
        )
        want += [
            (q, n, d, rn + 1) for rn, (d, n) in enumerate(scored[:k])
        ]
    assert got == sorted(want)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=VEC64,
    labels=st.lists(st.integers(0, 1), min_size=5, max_size=5),
    threshold=st.sampled_from([0.5, 0.8, 0.95]),
)
def test_bucketed_dedup_cosine_matches_python(spark, vecs, labels, threshold):
    """bucketed_dedup_cosine vs pure Python: pairs only within a bucket,
    a < b ordering, rounded cosine >= threshold."""
    import math

    from data_warehouse_flink_spark.functions.similarity import (
        bucketed_dedup_cosine,
    )

    rows = [
        (i, labels[i % len(labels)], v) for i, v in enumerate(vecs)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id int, label int, embedding array<double>"
    )
    got = {
        (r["bucket"], r["vec_a"], r["vec_b"], r["cosine"])
        for r in bucketed_dedup_cosine(emb, threshold).collect()
    }
    norms = [math.sqrt(sum(x * x for x in v)) for v in vecs]
    want = set()
    for a, (ia, la, va) in enumerate(rows):
        for ib, lb, vb in rows[a + 1 :]:
            if la != lb:
                continue
            cos = float(_rhu(
                sum(x * y for x, y in zip(va, vb)) / (norms[ia] * norms[ib]),
                6,
            ))
            if cos >= threshold:
                want.add((la, ia, ib, cos))
    assert got == want


# ---------------------------------------------------------------------------
# Trained-path serving twins with RANDOM models: unlike the frozen-literal
# kernels above, these functions take the model as an argument, so the
# twins randomize the codebooks/centroids too — the argmin/tie-break/ADC
# contracts must hold for ANY trained model, not just the committed one.

QVECS = st.lists(
    st.lists(st.integers(min_value=-5, max_value=5), min_size=4, max_size=4),
    min_size=3,
    max_size=6,
)
BOOKS = st.lists(  # M=2 subspaces x 3 codewords x sub_dim=2
    st.lists(
        st.lists(st.integers(min_value=-5, max_value=5), min_size=2, max_size=2),
        min_size=3,
        max_size=3,
    ),
    min_size=2,
    max_size=2,
)
CENTS = st.lists(
    st.lists(st.integers(min_value=-5, max_value=5), min_size=4, max_size=4),
    min_size=2,
    max_size=4,
)


def _int_dist(a, b):
    return sum((x - y) * (x - y) for x, y in zip(a, b))


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(qvecs=QVECS, cents=CENTS)
def test_assign_quantized_cells_matches_python(spark, qvecs, cents):
    from data_warehouse_flink_spark.functions.clustering import (
        assign_quantized_cells,
    )

    qdf = spark.createDataFrame(
        list(enumerate(qvecs)), "vec_id int, q array<bigint>"
    )
    got = {
        r["vec_id"]: (r["cell"], r["dist"])
        for r in assign_quantized_cells(qdf, cents).collect()
    }
    want = {
        i: min((_int_dist(v, c), j) for j, c in enumerate(cents))[::-1]
        for i, v in enumerate(qvecs)
    }
    assert got == {i: (c, d) for i, (c, d) in want.items()}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(qvecs=QVECS, books=BOOKS, k=st.integers(min_value=1, max_value=3))
def test_trained_pq_serving_path_matches_python(spark, qvecs, books, k):
    """pq_trained_codes -> pq_query_lookup -> adc_topk under RANDOM
    codebooks vs pure Python: per-subspace integer argmin with
    lower-code tie-break, exact per-codeword lookup arrays, and the
    BIGINT ADC rank with id tie-break — the whole trained serving loop
    for any model."""
    from data_warehouse_flink_spark.functions.clustering import (
        adc_topk,
        pq_query_lookup,
        pq_trained_codes,
    )

    sub_dim, m_sub = 2, 2
    qdf = spark.createDataFrame(
        list(enumerate(qvecs)), "vec_id int, q array<bigint>"
    )
    codes_df = pq_trained_codes(qdf, books, sub_dim=sub_dim)
    lookups_df = pq_query_lookup(qdf, books, sub_dim=sub_dim)

    def py_codes(v):
        return [
            min(
                (_int_dist(v[m * sub_dim : (m + 1) * sub_dim], cw), c)
                for c, cw in enumerate(books[m])
            )[1]
            for m in range(m_sub)
        ]

    def py_dls(v):
        return [
            [
                _int_dist(v[m * sub_dim : (m + 1) * sub_dim], cw)
                for cw in books[m]
            ]
            for m in range(m_sub)
        ]

    got_codes = {
        r["vec_id"]: [r["code0"], r["code1"]] for r in codes_df.collect()
    }
    assert got_codes == {i: py_codes(v) for i, v in enumerate(qvecs)}
    got_dls = {
        r["vec_id"]: [list(r["dl0"]), list(r["dl1"])]
        for r in lookups_df.collect()
    }
    assert got_dls == {i: py_dls(v) for i, v in enumerate(qvecs)}

    got_rank = sorted(
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
        for r in adc_topk(codes_df, lookups_df, k=k, m_subspaces=m_sub).collect()
    )
    want_rank = []
    for q, qv in enumerate(qvecs):
        dls = py_dls(qv)
        scored = sorted(
            (
                sum(dls[m][py_codes(nv)[m]] for m in range(m_sub)),
                n,
            )
            for n, nv in enumerate(qvecs)
            if n != q
        )
        want_rank += [
            (q, n, d, rn + 1) for rn, (d, n) in enumerate(scored[:k])
        ]
    assert got_rank == sorted(want_rank)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=VEC64, scale=st.sampled_from([1000, 1_000_000]))
def test_quantize_embeddings_matches_python(spark, vecs, scale):
    """The integer-quantize step every trained path starts from:
    q_d = floor(x_d * scale), including negatives (floor, not trunc)."""
    import math

    from data_warehouse_flink_spark.functions.clustering import (
        quantize_embeddings,
    )

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    got = {
        r["vec_id"]: list(r["q"])
        for r in quantize_embeddings(emb, scale=scale).collect()
    }
    want = {
        i: [int(math.floor(x * float(scale))) for x in v]
        for i, v in enumerate(vecs)
    }
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=ROWS)
def test_format_topn_report_matches_python(spark, rows):
    """P9's report rendering (HotItems.scala's 商品ID/浏览量 lines) vs a
    pure-Python format: rank-ordered lines joined per group."""
    from data_warehouse_flink_spark.operators.topn import (
        format_topn_report,
        top_n_per_group,
    )

    df = spark.createDataFrame(rows, "g int, v int, id int")
    ranked = top_n_per_group(df, ["g"], [F.desc("v"), F.asc("id")], 3)
    got = {
        r["g"]: r["report"]
        for r in format_topn_report(ranked, "g", "id", "v").collect()
    }
    want = {}
    for g in {r[0] for r in rows}:
        members = sorted(
            (r for r in rows if r[0] == g), key=lambda r: (-r[1], r[2])
        )[:3]
        want[g] = "\n".join(
            f"No{rn + 1}: 商品ID={m[2]} 浏览量={m[1]}"
            for rn, m in enumerate(members)
        )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=ROWS)
def test_scd2_init_matches_python(spark, rows):
    from data_warehouse_flink_spark.operators.scd2 import scd2_init

    snap = spark.createDataFrame(
        [(i, v) for _, v, i in rows], "uid int, tier int"
    )
    got = sorted(
        (r["uid"], r["tier"], r["valid_from_us"], r["valid_to_us"], r["is_current"])
        for r in scd2_init(snap, "uid", ["tier"], 123_000_000).collect()
    )
    want = sorted((i, v, 123_000_000, None, True) for _, v, i in rows)
    assert got == want


RECORDS = st.lists(
    st.tuples(
        st.sampled_from([None, -5, 100, 500]),      # ts day offset from 2024-01-01 (None/-5/500 bad)
        st.sampled_from([None, "view", "click", "bogus", "purchase"]),
        st.sampled_from([None, -5.0, 1.0, 2e9]),    # value
        st.sampled_from([None, "{\"a\":1}", "plain", "{}"]),
    ),
    min_size=1,
    max_size=15,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(records=RECORDS)
def test_classify_event_records_matches_python(spark, records):
    """The quarantine router's first-match CASE vs a pure-Python chain —
    including the round-12 rule that a NULL event_type routes to bad_type
    (the explicit isNull() arm; through r11 it fell through to the later
    rules via SQL ternary logic)."""
    import datetime as dt

    from data_warehouse_flink_spark.plans.analytics import (
        classify_event_records,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            None if d is None else t0 + dt.timedelta(days=d),
            et,
            v,
            p,
        )
        for i, (d, et, v, p) in enumerate(records)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id int, ts timestamp, event_type string, value double, "
        "props string",
    )
    got = {
        r["event_id"]: r["disposition"]
        for r in classify_event_records(df).collect()
    }
    domain = {"view", "click", "purchase", "signup", "error"}
    want = {}
    for i, (d, et, v, p) in enumerate(records):
        if d is None or d < 0 or d >= 366:
            want[i] = "bad_ts"
        elif et is None or et not in domain:
            want[i] = "bad_type"
        elif v is None or v < 0 or v > 1e9:
            want[i] = "bad_value"
        elif p is None or not p.startswith("{"):
            want[i] = "bad_props"
        else:
            want[i] = "ok"
    assert got == want
