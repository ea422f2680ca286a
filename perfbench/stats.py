"""Pure helpers of the benchmark: percentiles, failure counting, the oracle
comparator and Spark SQL-metric parsing. No Spark import, so the helpers are
testable without a session (see tests/test_stats.py)."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

# A percentile is reported only with at least this many samples above it.
TAIL_SAMPLES = 10


def percentile(samples: list[float], q: float) -> float:
    """The q-th percentile (0 < q < 100) by linear interpolation."""
    if not samples:
        raise ValueError("percentile of no samples")
    return float(np.percentile(np.asarray(samples, dtype=float), q))


def supports_percentile(n: int, q: float) -> bool:
    """True when n samples leave at least TAIL_SAMPLES above the q-th
    percentile, e.g. p90 needs 100 samples."""
    return n * (100.0 - q) / 100.0 >= TAIL_SAMPLES


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile that n samples support, or None when
    even the median has fewer than TAIL_SAMPLES samples above it."""
    for q in range(99, 49, -1):
        if supports_percentile(n, q):
            return q
    return None


def failed_executions(
    raised: dict[str, int], executed: dict[str, int], check_ok: dict[str, bool]
) -> int:
    """Executions that raised, plus every execution that did not raise of a
    query whose collected result failed (or missed) its oracle check.

    ``raised`` and ``executed`` count per query; ``executed`` counts only
    executions that completed."""
    failed = sum(raised.values())
    for name, n in executed.items():
        if not check_ok.get(name, False):
            failed += n
    return failed


def error_rate(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no executions attempted")
    return failed / attempted


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column- and row-order-insensitive canonical form of a result."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def compare_results(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` up to column and row order, else the
    first difference found. Floats match within 1e-9 (NaN equals NaN); all
    other values compare as strings."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for col in got.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            g, w = g.astype("float64"), w.astype("float64")
            if not np.isclose(g, w, rtol=0, atol=1e-9, equal_nan=True).all():
                return f"{col}: values differ"
        elif not (pd.Series(g).astype(str) == pd.Series(w).astype(str)).all():
            return f"{col}: values differ"
    return None


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """The total of a formatted Spark SQL count or size metric, sizes in
    bytes: ``"32,000"`` -> 32000,
    ``"total (min, med, max (stageId: taskId))\n1.5 KiB (...)"`` -> 1536."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        return math.nan
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)
