from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

import os

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
# The suite shares one long-lived JVM. Under a 64g heap G1 grew the heap
# instead of collecting, and on a 16 GB host the kernel's OOM killer ended
# the test JVM at 15.6 GB RSS midway through the oracle parity tests. A
# heap below the engine's half-of-memory default keeps the suite's peak
# (~4.8 GB RSS) independent of the host.
os.environ.setdefault("SPARK_GRAFT_MEM", "6g")
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from data_warehouse_flink_spark.session import get_spark, stop

    spark = get_spark("dwfs-tests", shuffle_partitions=8)
    yield spark
    stop(spark)


# ---------------------------------------------------------------------------
# Pinned skip manifest (VERDICT r13 #3): the suite's skips are env-gated and
# have been stable for rounds, but nothing asserted the skip SET — a
# regression that silently converts a passing test into a skip would read as
# green. On a FULL default-env run (every test module collected, nothing
# deselected, default SF tier, scale smoke off) the observed per-file skip
# counts and reason inventory must match tests/skip_manifest.json exactly, or
# the run exits nonzero with a diff. A new skip therefore fails the suite
# until the manifest is consciously updated. Partial runs (-k, single file)
# and opted-in envs (SPARK_GRAFT_SCALE_SMOKE=1, SPARK_GRAFT_TEST_SF=...)
# are not judged — their skip sets legitimately differ.
# ---------------------------------------------------------------------------
import glob as _glob
import json as _json

SKIP_MANIFEST_PATH = Path(__file__).resolve().parent / "skip_manifest.json"


def _default_env() -> bool:
    return (
        os.environ.get("SPARK_GRAFT_SCALE_SMOKE") != "1"
        and "SPARK_GRAFT_TEST_SF" not in os.environ
    )


def _all_test_modules() -> set[str]:
    here = os.path.dirname(os.path.abspath(__file__))
    return {os.path.basename(p) for p in _glob.glob(os.path.join(here, "test_*.py"))}


def _normalize_reason(longrepr) -> str:
    # A setup-phase skipif longrepr is (path, lineno, "Skipped: <reason>");
    # a call-phase pytest.skip matches the same tuple shape.
    if isinstance(longrepr, tuple) and len(longrepr) == 3:
        reason = str(longrepr[2])
    else:
        reason = str(longrepr)
    return reason.removeprefix("Skipped: ")


def skip_manifest_violations(
    observed: dict[str, dict], manifest: dict
) -> list[str]:
    """Pure comparison (unit-tested in test_entry.py): observed is
    {basename: {"count": n, "reasons": set/list}}, manifest is the pinned
    JSON. Returns human-readable violations; empty means the skip set is
    exactly the pinned one (both directions — a VANISHED skip also trips,
    because it means a gated test silently started running)."""
    out = []
    pinned = manifest.get("files", {})
    for fname in sorted(set(pinned) | set(observed)):
        want, got = pinned.get(fname), observed.get(fname)
        if want is None:
            out.append(
                f"unpinned skips in {fname}: {got['count']} "
                f"(reasons: {sorted(set(got['reasons']))})"
            )
        elif got is None:
            out.append(f"pinned skips vanished from {fname} "
                       f"(expected {want['count']})")
        else:
            if got["count"] != want["count"]:
                out.append(
                    f"{fname}: {got['count']} skips != pinned {want['count']}"
                )
            if sorted(set(got["reasons"])) != sorted(set(want["reasons"])):
                out.append(
                    f"{fname}: reasons {sorted(set(got['reasons']))} != "
                    f"pinned {sorted(set(want['reasons']))}"
                )
    total = sum(v["count"] for v in observed.values())
    if total != manifest.get("total", total):
        out.append(f"total skips {total} != pinned {manifest.get('total')}")
    return out


def pytest_configure(config):
    config._dwfs_skips = {}
    config._dwfs_deselected = 0
    config._dwfs_seen_files = set()


def pytest_deselected(items):
    if items:
        items[0].config._dwfs_deselected += len(items)


def pytest_collection_modifyitems(config, items):
    for it in items:
        config._dwfs_seen_files.add(os.path.basename(str(it.fspath)))


def pytest_runtest_logreport(report):
    if not report.skipped:
        return
    fname = os.path.basename(report.nodeid.split("::", 1)[0])
    # stash on the module-global via the report's own config-less channel:
    # logreport has no config handle, so accumulate in a module dict and
    # reconcile at sessionfinish (single-process suite; no xdist here).
    rec = _OBSERVED_SKIPS.setdefault(fname, {"count": 0, "reasons": []})
    rec["count"] += 1
    rec["reasons"].append(_normalize_reason(report.longrepr))


_OBSERVED_SKIPS: dict[str, dict] = {}


def pytest_sessionfinish(session, exitstatus):
    config = session.config
    if exitstatus != 0:
        return  # the run already fails; don't muddy the report
    # Test hatch (used ONLY by the e2e wiring test, which must prove the
    # hooks are registered and the exit code actually flips): ENFORCE=1
    # bypasses the full-run/default-env gating, and SPARK_GRAFT_SKIP_MANIFEST
    # points at an alternate manifest. Neither is set in any real run.
    forced = os.environ.get("SPARK_GRAFT_SKIP_MANIFEST_ENFORCE") == "1"
    if not forced:
        if not _default_env():
            return
        if (
            config._dwfs_deselected
            or not _all_test_modules() <= config._dwfs_seen_files
        ):
            return  # partial run: the skip set legitimately differs
    manifest_path = Path(
        os.environ.get("SPARK_GRAFT_SKIP_MANIFEST", SKIP_MANIFEST_PATH)
    )
    try:
        manifest = _json.loads(manifest_path.read_text())
    except OSError:
        manifest = {"files": {}, "total": 0}
    violations = skip_manifest_violations(_OBSERVED_SKIPS, manifest)
    if violations:
        tr = config.pluginmanager.get_plugin("terminalreporter")
        lines = ["SKIP MANIFEST VIOLATION (tests/skip_manifest.json):"]
        lines += [f"  - {v}" for v in violations]
        lines.append(
            "  a skip appeared or vanished on a full default-env run; "
            "update the manifest ONLY if the change is intentional"
        )
        msg = "\n".join(lines)
        if tr is not None:
            tr.write_sep("=", "skip manifest", red=True)
            tr.write_line(msg)
        else:
            print(msg, file=sys.stderr)
        session.exitstatus = 1
