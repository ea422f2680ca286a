"""Smoke: the driver contract in __spark_entry__.py holds."""

from __future__ import annotations

import conftest  # noqa: F401  (sys.path setup)
import pytest

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"window_end_sec", "user_id", "cnt", "rn"}


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs)
    # every oracle-less query is a deliberate rows-only op: engine-specific
    # hashing (xxhash64 has no DuckDB counterpart) with the exact/string
    # twin pinned locally (tests/test_round5_ops.py, test_round6_ops.py).
    # The approximate sketches (uv_approx, uv_sketch_mergeable,
    # event_value_percentiles_approx) graduated to contract oracles in
    # round 6: exact counts + an all-TRUE within-bound predicate.
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {
        "doc_importance_weights_fast",
        "doc_minhash_lsh_fast",
        "doc_exact_substring_dedup_fast",
        "doc_span_dedup_fast",
    }


def test_grading_priority_prefix_invariants():
    """The driver grades the first 50 registry entries (r1+r2 evidence).
    Keep the prefix exactly 50, every name real, and all SURVEY §2 gate
    queries inside it — a registration change must not silently push a gate
    query past the graded horizon."""
    from data_warehouse_flink_spark.registry import (
        _GRADING_PRIORITY,
        all_queries,
    )

    queries = all_queries()
    qs = list(queries)
    assert len(_GRADING_PRIORITY) == 50
    assert len(set(_GRADING_PRIORITY)) == 50
    assert qs[:50] == list(_GRADING_PRIORITY)
    # r12 cadence amendment (VERDICT r11 #2): a graded prefix slot must
    # never land on a rows-only entry — every prefix query carries an
    # oracle, and the oracle-less entries sort to the very END of the
    # registry so no prefix size could ever reach them.
    assert all(queries[n].oracle is not None for n in qs[:50])
    tail_oracle_less = [n for n in qs if queries[n].oracle is None]
    # qs[-0:] would be the WHOLE list, so an empty tail must short-circuit
    # (a zero-oracle-less registry satisfies the invariant trivially).
    if tail_oracle_less:
        assert qs[-len(tail_oracle_less):] == tail_oracle_less
    gates = {
        "page_view", "hot_items_topn", "network_flow_topn",
        "unique_visitors", "uv_approx", "app_marketing_by_channel",
        "app_marketing_total", "ad_clicks_by_geo", "ad_blacklist_warnings",
        "login_fail_consecutive", "login_fail_threshold", "order_timeout",
        "tx_match", "tx_match_window_join", "tx_match_interval_join",
        "streaming_page_view", "user_sessions", "streaming_unique_visitors",
        "ad_clicks_by_geo_fine", "streaming_tx_match_window_join",
        "streaming_hot_items_topn", "streaming_update_emissions",
    }
    assert gates <= set(qs[:50])


def test_bench_headline_names_exist():
    """Every bench HEADLINE entry must be a registered query — a typo
    would surface only as an errors-dict entry in the driver's bench run,
    silently shrinking the perf record."""
    import bench

    from data_warehouse_flink_spark.registry import all_queries

    qs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    # bench time is round time: grow by swapping, not appending (VERDICT r5
    # item 7 — the cap is the explicit choice, not an accident)
    assert len(bench.HEADLINE) <= bench.HEADLINE_CAP


def test_bench_acceptance_rule():
    """The accept/reject stamp (VERDICT r12 #4) as a pure function: a
    record is accepted iff the box was solo, the canary trio completed
    within the declared band, and no headline query errored — and the
    reject_reason names every violated clause, so a sidecar reader never
    reconstructs the verdict from NOTES. `default_sf` is required
    keyword-only (ADVICE r13 #4)."""
    import inspect

    import bench

    # Strict clause (preferred stamp).
    assert bench.acceptance(0, 1.0, 0, default_sf=True) == (
        True, "strict", None)
    assert bench.acceptance(
        0, bench.ACCEPT_CANARY_MAX, 0, default_sf=True
    ) == (True, "strict", None)
    ok, mode, why = bench.acceptance(2, 1.0, 0, default_sf=True)
    assert not ok and mode is None and "concurrent_jvms=2" in why
    ok, mode, why = bench.acceptance(0, None, 0, default_sf=True)
    assert not ok and "canary_incomplete" in why
    ok, mode, why = bench.acceptance(0, 1.0, 3, default_sf=True)
    assert not ok and "query_errors=3" in why
    ok, mode, why = bench.acceptance(1, 1.61, 3, default_sf=True)
    assert not ok and why.count(";") >= 2  # every clause named
    # Off-default-SF runs: the canary clauses are inapplicable (the r12
    # reference is an sf0.1 measurement; a cross-SF trio ratio is not a
    # box-speed estimate) — jvm/error clauses still apply.
    assert bench.acceptance(0, 1.61, 0, default_sf=False) == (
        True, "off-default-sf", None)
    assert bench.acceptance(0, None, 0, default_sf=False) == (
        True, "off-default-sf", None)
    ok, mode, why = bench.acceptance(2, None, 0, default_sf=False)
    assert not ok and "concurrent_jvms=2" in why
    # ADVICE r13 #4: a caller that omits default_sf must fail loudly, not
    # silently inherit the sf0.1-anchored canary clause.
    with pytest.raises(TypeError):
        bench.acceptance(0, 1.0, 0)
    p = inspect.signature(bench.acceptance).parameters["default_sf"]
    assert p.kind is inspect.Parameter.KEYWORD_ONLY
    assert p.default is inspect.Parameter.empty


def test_bench_acceptance_steady_state_clause():
    """The steady-state escape hatch (VERDICT r13 #2), clause by clause:
    a slow-but-steady box (r13's whole session sat at canary 1.19-1.4x)
    may still anchor the ledger when >= 3 spaced attempts read tight
    (max/min <= 1.15) AND the judge's lead metric
    common_subset_ratio_vs_prev is <= 1.05 — but a concurrent JVM, a
    query error, a spiky spread, or a slow common subset each
    individually reject, and the strict stamp stays preferred."""
    import bench

    steady = dict(steady_attempts=3, steady_spread_ratio=1.05,
                  common_subset_ratio_vs_prev=0.98)
    # All four steady conditions met, canary slow -> steady-state accept.
    ok, mode, why = bench.acceptance(0, 1.3, 0, default_sf=True, **steady)
    assert (ok, mode, why) == (True, "steady-state", None)
    # Boundary values accept.
    ok, mode, _ = bench.acceptance(
        0, 1.3, 0, default_sf=True, steady_attempts=3,
        steady_spread_ratio=bench.STEADY_SPREAD_MAX,
        common_subset_ratio_vs_prev=bench.STEADY_COMMON_RATIO_MAX)
    assert ok and mode == "steady-state"
    # A fast canary still stamps strict even when steady data is present.
    ok, mode, _ = bench.acceptance(0, 1.0, 0, default_sf=True, **steady)
    assert ok and mode == "strict"
    # (c) too few spaced attempts.
    ok, mode, why = bench.acceptance(
        0, 1.3, 0, default_sf=True, **{**steady, "steady_attempts": 2})
    assert not ok and "attempts=2<3" in why
    # (c) spiky spread (r13's 3.28x spike blows max/min).
    ok, mode, why = bench.acceptance(
        0, 1.3, 0, default_sf=True,
        **{**steady, "steady_spread_ratio": 1.31})
    assert not ok and "spread=1.31>" in why
    # (d) slow common subset: steady contention cannot launder through.
    ok, mode, why = bench.acceptance(
        0, 1.3, 0, default_sf=True,
        **{**steady, "common_subset_ratio_vs_prev": 1.2})
    assert not ok and "common_subset_ratio=1.2>" in why
    ok, mode, why = bench.acceptance(
        0, 1.3, 0, default_sf=True,
        **{**steady, "common_subset_ratio_vs_prev": None})
    assert not ok and "common_subset_ratio_unknown" in why
    # (a)/(b) concurrent JVM or query errors are NEVER laundered.
    ok, mode, why = bench.acceptance(1, 1.3, 0, default_sf=True, **steady)
    assert not ok and "concurrent_jvms=1" in why
    ok, mode, why = bench.acceptance(0, 1.3, 2, default_sf=True, **steady)
    assert not ok and "query_errors=2" in why
    # An incomplete canary has no ratio to judge steadiness against.
    ok, mode, why = bench.acceptance(0, None, 0, default_sf=True, **steady)
    assert not ok and "canary_incomplete" in why
    # The reject reason names the steady sub-clauses so a sidecar reader
    # sees exactly which steadiness condition failed.
    ok, mode, why = bench.acceptance(
        0, 1.3, 0, default_sf=True, steady_attempts=1,
        steady_spread_ratio=None, common_subset_ratio_vs_prev=None)
    assert not ok and "steady-state:" in why and "spread_unknown" in why


def test_bench_steady_spread_helper():
    """steady_spread() thins attempts to >= 10-min spacing inside a 12-h
    window, always keeps the newest reading, and reports max/min of the
    kept canary sums — so three back-to-back reruns inside one spike
    count as ONE attempt."""
    import bench

    now = 1_000_000.0
    m = 60.0
    # Three spaced attempts, tight sums.
    n, spread = bench.steady_spread(
        [(now - 40 * m, 1.50), (now - 20 * m, 1.55), (now, 1.52)], now)
    assert n == 3 and spread == round(1.55 / 1.50, 4)
    # Back-to-back reruns thin to one attempt (newest kept).
    n, spread = bench.steady_spread(
        [(now - 3 * m, 1.50), (now - 1 * m, 1.55), (now, 1.52)], now)
    assert n == 1 and spread == 1.0
    # Readings outside the 12-h window (or in the future) are dropped.
    n, _ = bench.steady_spread(
        [(now - bench.STEADY_WINDOW_S - 1, 1.5), (now + 5, 1.5), (now, 1.5)],
        now)
    assert n == 1
    # A spike inside the window blows the spread.
    n, spread = bench.steady_spread(
        [(now - 40 * m, 1.50), (now - 20 * m, 4.92), (now, 1.52)], now)
    assert n == 3 and spread == round(4.92 / 1.50, 4)
    # Zero/invalid canary sums are ignored; empty input is (0, None).
    assert bench.steady_spread([(now, 0.0)], now) == (0, None)
    assert bench.steady_spread([], now) == (0, None)


def test_bench_canary_drift_helper():
    """canary_drift() is the post/pre trio-sum ratio, None on any partial,
    mismatched, or non-positive trio — and is NOT an acceptance() input
    (the signature pin below would catch it growing one)."""
    import inspect

    import bench

    pre = {"a": 0.4, "b": 0.3, "c": 0.3}
    assert bench.canary_drift(pre, {"a": 0.8, "b": 0.6, "c": 0.6}) == 2.0
    assert bench.canary_drift(pre, dict(pre)) == 1.0
    assert bench.canary_drift(pre, {"a": 0.2, "b": 0.15, "c": 0.15}) == 0.5
    # Partial/mismatched/zero trios cannot anchor a ratio.
    assert bench.canary_drift({}, {}) is None
    assert bench.canary_drift(pre, {"a": 0.4, "b": 0.3}) is None
    assert bench.canary_drift(pre, {"a": 0.4, "b": 0.3, "d": 0.3}) is None
    assert bench.canary_drift({"a": 0.0, "b": 0.0, "c": 0.0}, pre) is None
    # Diagnostic-only contract: acceptance() takes no drift/post argument.
    params = set(inspect.signature(bench.acceptance).parameters)
    assert not {p for p in params if "drift" in p or "post" in p}


def test_bench_steady_spread_properties():
    """Hypothesis properties of the spread kernel: order-invariant,
    insensitive to out-of-window/invalid readings, spread >= 1 with
    n >= 1 whenever any valid in-window reading exists, and a burst of
    back-to-back attempts always thins to exactly one."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import bench

    NOW = 2_000_000.0
    attempt = st.tuples(
        st.floats(NOW - 2 * bench.STEADY_WINDOW_S, NOW + 600,
                  allow_nan=False),
        st.floats(-1.0, 5.0, allow_nan=False),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(attempt, max_size=20), st.randoms())
    def prop(attempts, rnd):
        n, spread = bench.steady_spread(attempts, NOW)
        valid = [
            (t, c) for t, c in attempts
            if c > 0 and 0 <= NOW - t <= bench.STEADY_WINDOW_S
        ]
        if not valid:
            assert (n, spread) == (0, None)
            return
        assert 1 <= n <= len(valid)
        assert spread >= 1.0
        # Order invariance.
        shuffled = list(attempts)
        rnd.shuffle(shuffled)
        assert bench.steady_spread(shuffled, NOW) == (n, spread)
        # Out-of-window and non-positive readings are inert.
        noise = [(NOW - 3 * bench.STEADY_WINDOW_S, 9.9), (NOW + 700, 9.9),
                 (NOW, 0.0), (NOW, -2.0)]
        assert bench.steady_spread(attempts + noise, NOW) == (n, spread)

    prop()

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.floats(0, bench.STEADY_MIN_SPACING_S - 1,
                          allow_nan=False),
                st.floats(0.1, 5.0, allow_nan=False),
            ),
            min_size=1,
            max_size=10,
        )
    )
    def burst(offsets):
        # All attempts inside ONE spacing interval ending at NOW: however
        # many reruns, they count as a single attempt (spread trivially 1).
        attempts = [(NOW - off, c) for off, c in offsets]
        assert bench.steady_spread(attempts, NOW) == (1, 1.0)

    burst()


def test_bench_record_attempt_ledger_io(tmp_path):
    """record_attempt() round-trips the attempts ledger: appends one JSON
    line per call, reads prior attempts back, skips malformed lines
    individually, treats a missing ledger as attempt 1, and still
    returns this run's spread when the ledger is unwritable."""
    import json

    import bench

    led = str(tmp_path / "attempts.jsonl")
    now = 1_000_000.0
    # Missing ledger: attempt 1, trivially tight.
    n, spread = bench.record_attempt(led, now, 1.5, 1.0, "rXX")
    assert (n, spread) == (1, 1.0)
    rec = json.loads(open(led).read().strip())
    assert rec == {"ts": now, "canary_sum": 1.5,
                   "canary_ratio_vs_r12": 1.0, "tag": "rXX"}
    # Second spaced attempt reads the first back; spread over both.
    n, spread = bench.record_attempt(led, now + 1200, 1.8, 1.2, "rXX")
    assert n == 2 and spread == round(1.8 / 1.5, 4)
    assert len(open(led).readlines()) == 2
    # A malformed line is skipped alone — the good lines still count.
    with open(led, "a") as fh:
        fh.write("not json\n")
        fh.write('{"ts": "missing canary_sum"}\n')
    n, spread = bench.record_attempt(led, now + 2400, 1.6, 1.07, "rXX")
    assert n == 3 and spread == round(1.8 / 1.5, 4)
    # Unwritable ledger: warns, but still returns this run's spread over
    # what it could read (ledger now has 5 lines, 3 valid).
    ro = tmp_path / "ro"
    ro.mkdir()
    n, spread = bench.record_attempt(str(ro), now + 3600, 1.7, 1.1, "rXX")
    assert (n, spread) == (1, 1.0)


def test_skip_manifest_comparator():
    """The skip-manifest comparator (VERDICT r13 #3) trips in BOTH
    directions — a new skip AND a vanished skip — and on reason drift,
    and the pinned manifest matches the modules' actual gating (so the
    full-suite sessionfinish enforcement is armed with true expectations)."""
    import json

    import conftest as cf

    manifest = json.loads(cf.SKIP_MANIFEST_PATH.read_text())
    # The manifest's own arithmetic is consistent.
    assert manifest["total"] == sum(
        v["count"] for v in manifest["files"].values())
    # Pinned files exist and their pinned reasons appear verbatim in-source
    # (a renamed reason string must update the manifest consciously).
    import os
    tests_dir = os.path.dirname(os.path.abspath(cf.__file__))
    for fname, spec in manifest["files"].items():
        src = open(os.path.join(tests_dir, fname)).read()
        for reason in spec["reasons"]:
            assert reason in src, f"{fname}: pinned reason not in source"
    # Exact match -> no violations.
    observed = {
        f: {"count": v["count"], "reasons": list(v["reasons"])}
        for f, v in manifest["files"].items()
    }
    assert cf.skip_manifest_violations(observed, manifest) == []
    # A NEW skip in an unpinned file trips.
    v = cf.skip_manifest_violations(
        {**observed, "test_entry.py": {"count": 1, "reasons": ["oops"]}},
        manifest)
    assert any("unpinned skips in test_entry.py" in x for x in v)
    # A vanished pinned file trips.
    gone = {f: o for f, o in observed.items() if f != "test_streaming.py"}
    v = cf.skip_manifest_violations(gone, manifest)
    assert any("vanished from test_streaming.py" in x for x in v)
    # A count drift within a pinned file trips.
    drift = {**observed, "test_scale_smoke.py": {
        "count": 41, "reasons": observed["test_scale_smoke.py"]["reasons"]}}
    v = cf.skip_manifest_violations(drift, manifest)
    assert any("41 skips != pinned 40" in x for x in v)
    # A reason drift trips even at the same count.
    rdrift = {**observed, "test_streaming.py": {
        "count": 2, "reasons": ["some new reason"]}}
    v = cf.skip_manifest_violations(rdrift, manifest)
    assert any("reasons" in x and "test_streaming.py" in x for x in v)
    # Reason normalization strips pytest's "Skipped: " prefix from both
    # tuple-shaped and plain longreprs.
    assert cf._normalize_reason(("f.py", 3, "Skipped: why")) == "why"
    assert cf._normalize_reason("Skipped: why") == "why"


def test_skip_manifest_enforcement_e2e(tmp_path):
    """End-to-end proof the manifest hooks are REGISTERED and the exit
    code actually flips (a comparator unit test alone can't show the
    sessionfinish wiring is live): a throwaway 2-test suite with one
    runtime skip runs under the conftest plugin with forced enforcement —
    an empty pinned manifest must fail the run naming the unpinned skip,
    and a matching manifest must pass it."""
    import json
    import os
    import subprocess
    import sys

    import conftest as cf

    tests_dir = os.path.dirname(os.path.abspath(cf.__file__))
    t = tmp_path / "test_canary_skips.py"
    t.write_text(
        "import pytest\n"
        "def test_ok():\n    pass\n"
        "def test_sk():\n    pytest.skip('canary reason')\n"
    )
    manifest = tmp_path / "manifest.json"
    env = {
        **os.environ,
        "SPARK_GRAFT_SKIP_MANIFEST_ENFORCE": "1",
        "SPARK_GRAFT_SKIP_MANIFEST": str(manifest),
        "PYTHONPATH": tests_dir + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    cmd = [sys.executable, "-m", "pytest", str(t), "-q",
           "-p", "conftest", "-p", "no:cacheprovider"]

    manifest.write_text('{"files": {}, "total": 0}')
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       cwd=str(tmp_path), timeout=120)
    out = r.stdout + r.stderr
    assert r.returncode != 0, out
    assert "SKIP MANIFEST VIOLATION" in out
    assert "unpinned skips in test_canary_skips.py" in out

    manifest.write_text(json.dumps({
        "files": {"test_canary_skips.py":
                  {"count": 1, "reasons": ["canary reason"]}},
        "total": 1,
    }))
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       cwd=str(tmp_path), timeout=120)
    assert r.returncode == 0, r.stdout + r.stderr


def test_sf1_spot_set_composition():
    """The standing sf1 spot sweep (VERDICT r12 #3) must always carry the
    A-ES/sampling/rounding family (the class whose bugs only surface at
    volume) plus the head of this round's rotation cohort, oracle-bearing
    only, at the pinned size."""
    import os
    import sys

    # ADVICE r13 #3: remove the exact entry we inserted — importing
    # sf1_spot can itself prepend REPO_ROOT via its module-level guard, in
    # which case pop(0) would evict REPO_ROOT and leak the tools dir.
    tools_dir = os.path.join(os.path.dirname(conftest.__file__), "..", "tools")
    sys.path.insert(0, tools_dir)
    try:
        from sf1_spot import ALWAYS, SPOT_SIZE, spot_set
    finally:
        sys.path.remove(tools_dir)

    from data_warehouse_flink_spark.registry import all_queries

    qs = all_queries()
    names = spot_set()
    assert len(names) == SPOT_SIZE
    assert len(set(names)) == SPOT_SIZE
    assert set(ALWAYS) <= set(names)
    assert all(qs[n].oracle is not None for n in names)


def test_plans_report_covers_registry():
    """PLANS.md is the plan-audit source of truth; it decayed silently
    when it covered only the bench HEADLINE set (one round stale by r10,
    missing corpus_bpe_train_batched — VERDICT r10 #4). Pin: every
    registered query name has a `## name` section, so registering a
    query without regenerating the report fails here."""
    import os
    import re

    from data_warehouse_flink_spark.registry import all_queries

    plans = os.path.join(os.path.dirname(conftest.__file__), "..", "PLANS.md")
    text = open(plans).read()
    reported = {m.group(1) for m in re.finditer(r"^## (\S+)", text, re.M)}
    missing = set(all_queries()) - reported
    assert not missing, (
        f"registered queries missing from PLANS.md (regenerate with "
        f"`python tools/plan_report.py`): {sorted(missing)}"
    )


def test_bench_canary_reference_aligned():
    """value_adjusted only emits when the measured canary set equals
    CANARY_REF — a drifted trio would silently drop the normalized
    headline from the round record. Pin trio == reference keys, all
    inside the HEADLINE set, with plausible frozen timings."""
    import bench

    assert set(bench.CANARY_TRIO) == set(bench.CANARY_REF)
    assert set(bench.CANARY_TRIO) <= set(bench.HEADLINE)
    assert all(0 < v < 5 for v in bench.CANARY_REF.values())
    # r12 versioned re-baseline sits BESIDE the r6 constants: same trio,
    # plausible timings, min-of-N canary reps (the re-baseline's point).
    assert set(bench.CANARY_REF_R12) == set(bench.CANARY_REF)
    assert all(0 < v < 5 for v in bench.CANARY_REF_R12.values())
    assert bench.CANARY_REPS >= 5


def test_noop_audit_receipt_uses_the_key_bench_reads():
    """The audit tool writes its flagged queries under the key bench.py's
    noop_audit sidecar column reads, in the receipt's {count, noop} shape."""
    import os
    import sys

    from bench import NOOP_AUDIT_FLAG_KEY

    tools_dir = os.path.join(os.path.dirname(conftest.__file__), "..", "tools")
    sys.path.insert(0, tools_dir)
    try:
        from noop_audit import receipt
    finally:
        sys.path.remove(tools_dir)

    got = receipt({
        "pruned": {"count": 0.2, "noop": 1.5},  # > 2x count and count + 0.3
        "small": {"count": 0.05, "noop": 0.2},  # 4x, under the 0.3 s floor
        "even": {"count": 1.0, "noop": 1.1},
        "broken": {"error": "boom"},
    })
    assert got[NOOP_AUDIT_FLAG_KEY] == {"pruned": {"count": 0.2, "noop": 1.5}}
    assert got["n_flagged"] == 1


def test_stream_start_and_replay_each_live_in_one_module():
    """Every availableNow query starts through the runner in
    streaming/jobs.py (which alone waits on it and scopes the stateful
    width), and every ordered file replay is staged by
    streaming/sources.py::ordered_replay."""
    from pathlib import Path

    pkg = Path(conftest.REPO_ROOT) / "data_warehouse_flink_spark"
    owners = {
        "trigger(availableNow": "streaming/jobs.py",
        "awaitTermination": "streaming/jobs.py",
        "scoped_shuffle_partitions": "streaming/jobs.py",
        "adaptive_stateful_width": "streaming/jobs.py",
        "maxFilesPerTrigger": "streaming/sources.py",
        "os.utime": "streaming/sources.py",
    }
    stray = sorted(
        (src.relative_to(pkg).as_posix(), needle)
        for src in pkg.rglob("*.py")
        for needle, owner in owners.items()
        if src.relative_to(pkg).as_posix() != owner
        and needle in src.read_text()
    )
    assert stray == []


def test_session_state_lives_in_one_memo():
    """Only session.py reads the applicationId (its memo drops a stopped
    application's entries), and no plans/ module keeps a module-level
    dict filled at run time: every per-session value goes through
    ``session.memo``, so ``session.release`` reaches it."""
    import ast
    from pathlib import Path

    pkg = Path(conftest.REPO_ROOT) / "data_warehouse_flink_spark"
    readers = sorted(
        src.relative_to(pkg).as_posix()
        for src in pkg.rglob("*.py")
        if "applicationId" in src.read_text()
    )
    assert readers == ["session.py"]

    def empty_dict(node) -> bool:
        return (isinstance(node, ast.Dict) and not node.keys) or (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in ("dict", "defaultdict", "OrderedDict")
        )

    stores = sorted(
        (src.name, ast.unparse(node))
        for src in (pkg / "plans").glob("*.py")
        for node in ast.parse(src.read_text()).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and node.value is not None
        and empty_dict(node.value)
    )
    assert stores == []


def test_equal_oracles_are_one_shared_string():
    """A streaming twin shares its batch twin's oracle (a stream's output
    equals the batch query over the same input), and it shares the one
    string: two registered oracles equal after whitespace normalization
    must be the same object. CPython merges byte-equal string constants of
    a module into one object, so a pasted copy is also caught in the
    source: no registered oracle's text may appear as more than one string
    literal across the query modules."""
    import ast
    import importlib
    import inspect
    from collections import Counter

    from data_warehouse_flink_spark import registry

    def norm(text: str) -> str:
        return " ".join(text.split())

    by_text: dict[str, list] = {}
    for name, oracle in registry.oracles().items():
        by_text.setdefault(norm(oracle), []).append((name, oracle))
    copies = sorted(
        [name for name, _ in group]
        for group in by_text.values()
        if len({id(oracle) for _, oracle in group}) > 1
    )
    assert copies == []

    literals = Counter(
        norm(node.value)
        for mod in registry._QUERY_MODULES
        for node in ast.walk(
            ast.parse(inspect.getsource(importlib.import_module(mod)))
        )
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    )
    pasted = sorted(
        [name for name, _ in by_text[text]]
        for text, n in literals.items()
        if n > 1 and text in by_text
    )
    assert pasted == []


def test_only_the_registry_reads_the_registry():
    """A registration that composes another query's oracle takes it from
    that query's module constant, not from the registry at import time,
    so no package module but registry.py names ``_REGISTRY``."""
    import ast
    from pathlib import Path

    pkg = Path(conftest.REPO_ROOT) / "data_warehouse_flink_spark"

    def names(tree) -> bool:
        return any(
            (isinstance(node, ast.Name) and node.id == "_REGISTRY")
            or (isinstance(node, ast.Attribute) and node.attr == "_REGISTRY")
            or (isinstance(node, ast.alias) and node.name == "_REGISTRY")
            for node in ast.walk(tree)
        )

    readers = sorted(
        src.relative_to(pkg).as_posix()
        for src in pkg.rglob("*.py")
        if names(ast.parse(src.read_text()))
    )
    assert readers == ["registry.py"]


# Defaulted parameters kept although no call site sets them, each with why.
_UNSET_OPTION_EXEMPTIONS = {
    ("streaming/sources.py", "kafka_events", "starting_offsets"): (
        "deployment setting: a real Kafka deployment picks where to start"
    ),
}


def test_every_keyword_option_is_set_by_a_caller():
    """A defaulted parameter of a package function is an option only if
    some call site sets it; one that nobody sets is a constant in
    disguise and belongs at its use. Call sites are every call in the
    package, tests/, tools/, perfbench/, bench.py and __spark_entry__.py,
    matched by the called name (so a same-named call anywhere counts).
    A call sets a parameter by keyword, by position, or through `*args`
    or `**kwargs`; `functools.partial(f, ...)` counts as a call of f.
    Closure-capture defaults of nested functions (`def fn(..., _sql=sql)`)
    bind a loop value, not an option, so nested functions are skipped."""
    import ast
    from pathlib import Path

    root = Path(conftest.REPO_ROOT)
    pkg = root / "data_warehouse_flink_spark"
    files = [
        *pkg.rglob("*.py"),
        *(root / "tests").rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    trees = {f: ast.parse(f.read_text()) for f in files}

    def terminal(expr) -> str | None:
        if isinstance(expr, ast.Name):
            return expr.id
        return expr.attr if isinstance(expr, ast.Attribute) else None

    calls: dict[str, list] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name, args = terminal(node.func), node.args
            if name == "partial" and args:
                name, args = terminal(args[0]), args[1:]
            star = any(isinstance(a, ast.Starred) for a in args)
            n_pos = len(args) - star
            kws = {k.arg for k in node.keywords}  # None marks **kwargs
            calls.setdefault(name, []).append((n_pos, star, kws))

    def options(body, owner: str, shift: int):
        """(qualname, param, position or None) of every defaulted
        parameter of the functions in `body`, methods included (their
        position skips `self`)."""
        for node in body:
            if isinstance(node, ast.ClassDef):
                yield from options(node.body, f"{node.name}.", 1)
            elif isinstance(node, ast.FunctionDef):
                a = node.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                for i, p in enumerate(pos[first:], first):
                    yield owner + node.name, p.arg, i - shift
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        yield owner + node.name, p.arg, None

    def is_set(func: str, param: str, idx: int | None) -> bool:
        return any(
            star or None in kws or param in kws
            or (idx is not None and n_pos > idx)
            for n_pos, star, kws in calls.get(func.split(".")[-1], ())
        )

    unset = sorted(
        (src.relative_to(pkg).as_posix(), func, param)
        for src, tree in trees.items()
        if src.is_relative_to(pkg)
        for func, param, idx in options(tree.body, "", 0)
        if not is_set(func, param, idx)
    )
    assert [u for u in unset if u not in _UNSET_OPTION_EXEMPTIONS] == []
    # an exemption whose option is gone or now set is stale
    assert sorted(_UNSET_OPTION_EXEMPTIONS) == [
        u for u in unset if u in _UNSET_OPTION_EXEMPTIONS
    ]


def test_registry_matches_pin():
    """The registry is frozen and the driver grades a fixed prefix of it:
    `list(all_queries())` and every oracle's text (sha256 after whitespace
    normalization; null for a rows-only entry) must equal
    tests/registry_pin.json, so a refactor can prove that no order and no
    oracle changed. Registration order follows module import order, and
    other test modules import query modules directly, so the registry is
    read in a fresh interpreter, as the driver reads it."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    script = (
        "import hashlib, json\n"
        "from data_warehouse_flink_spark.registry import all_queries\n"
        "def digest(o):\n"
        "    if o is None:\n"
        "        return None\n"
        "    return hashlib.sha256(' '.join(o.split()).encode()).hexdigest()\n"
        "print(json.dumps([[n, digest(q.oracle)] "
        "for n, q in all_queries().items()]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=conftest.REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    pin = json.loads((Path(__file__).parent / "registry_pin.json").read_text())
    assert json.loads(out) == pin


def test_registry_order_does_not_depend_on_import_order(monkeypatch):
    """`all_queries()` orders entries by their module's place in
    _QUERY_MODULES, then by registration within the module, not by the
    order in which the modules were first imported: with the entries of
    plans.llm_ops registered first, the order still equals the pin."""
    import json
    from pathlib import Path

    from data_warehouse_flink_spark import registry

    registry.load_all()
    llm_ops = "data_warehouse_flink_spark.plans.llm_ops"
    entries = registry._REGISTRY.items()
    first = {n: q for n, q in entries if q.spark_fn.__module__ == llm_ops}
    rest = {n: q for n, q in entries if n not in first}
    monkeypatch.setattr(registry, "_REGISTRY", {**first, **rest})
    pin = json.loads((Path(__file__).parent / "registry_pin.json").read_text())
    assert list(registry.all_queries()) == [name for name, _ in pin]
