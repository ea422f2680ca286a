"""Flink-CEP-style pattern builder (SURVEY.md §2.6 API parity): the one
compiler for every pattern query.

The reference expresses detections as CEP patterns::

    Pattern.begin[LoginEvent]("firstFail").where(_.eventType == "fail")
      .next("secondFail").where(_.eventType == "fail")
      .within(Time.seconds(2))                 # LoginFailWithCEP.scala:38-43

    Pattern.begin[OrderEvent]("create").where(_.eventType == "create")
      .followedBy("pay").where(_.eventType == "pay")
      .within(Time.minutes(15))                # OrderTimeout.scala:32-36

This module gives users of the reference the same declarative surface,
compiled to the engine's relational plans:

- ``next`` (STRICT contiguity, any number of steps): per-row step flags +
  a lag chain over (key ORDER BY order_cols) — one shuffle, one per-key
  sort, zero state, arbitrary pattern length. Row r completes the pattern
  iff step_i matched at lag(n-1-i) for every i and the whole span fits in
  ``within``.
- ``followed_by`` (RELAXED contiguity, two steps): ``completions`` pairs
  every start with its earliest qualifying completion inside the bound,
  NULL when the start timed out (the reference's followedBy+within with
  its timeout side output) — one left join and one min-aggregate;
  ``detect`` keeps the completed rows.

Batch forms only (the oracle-checkable backfill path); the streaming twins
with real timers remain the kernels in ``streaming/state.py`` — this
builder is the API that maps reference pattern code onto them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class _Step:
    name: str
    where: Column
    contiguity: str  # "begin" | "next" | "followed_by"
    strictly_after: bool = False


@dataclass(frozen=True)
class Pattern:
    steps: tuple[_Step, ...] = field(default_factory=tuple)
    within_sec: int | None = None

    # ---------------------------------------------------------- builder --
    @staticmethod
    def begin(name: str, where: Column) -> "Pattern":
        return Pattern(steps=(_Step(name, where, "begin"),))

    def next(self, name: str, where: Column) -> "Pattern":
        """Strict contiguity: this step must be the IMMEDIATELY following
        event of the same key (anything in between kills the match)."""
        return self._then(_Step(name, where, "next"))

    def followed_by(
        self, name: str, where: Column, strictly_after: bool = False
    ) -> "Pattern":
        """Relaxed contiguity: the first qualifying event of the same key
        at-or-after the previous step (other events may intervene);
        ``strictly_after`` excludes a completion at the start's own
        instant."""
        return self._then(_Step(name, where, "followed_by", strictly_after))

    def within(self, seconds: int) -> "Pattern":
        return Pattern(steps=self.steps, within_sec=seconds)

    def _then(self, step: _Step) -> "Pattern":
        if any(s.name == step.name for s in self.steps):
            raise ValueError(f"duplicate step name {step.name!r}")
        return Pattern(steps=self.steps + (step,), within_sec=self.within_sec)

    # ---------------------------------------------------------- compile --
    def _validate(self) -> str:
        if len(self.steps) < 2:
            raise ValueError("a pattern needs at least two steps")
        if self.within_sec is None:
            raise ValueError("pattern needs .within(seconds)")
        kinds = {s.contiguity for s in self.steps[1:]}
        if kinds == {"next"}:
            return "strict"
        if kinds == {"followed_by"}:
            if len(self.steps) != 2:
                raise ValueError(
                    "followed_by patterns support exactly two steps; "
                    "chain multiple Pattern.detect calls for longer "
                    "relaxed sequences"
                )
            return "relaxed"
        raise ValueError("mixing next and followed_by is not supported")

    def detect(
        self,
        df: DataFrame,
        key: str,
        ts_col: str,
        order_cols: list[str] | None = None,
    ) -> DataFrame:
        """Full matches: one row per completed pattern — key plus
        ``<step>_us`` (epoch micros) for every step."""
        if self._validate() == "relaxed":
            done = F.col(f"{self.steps[1].name}_us")
            return self.completions(df, key, ts_col).filter(done.isNotNull())
        return self._detect_strict(df, key, ts_col, order_cols or [ts_col])

    # ------------------------------------------------- strict (lag chain) --
    def _detect_strict(
        self,
        df: DataFrame,
        key: str,
        ts_col: str,
        order_cols: list[str],
    ) -> DataFrame:
        n = len(self.steps)
        w = Window.partitionBy(key).orderBy(*[F.asc(c) for c in order_cols])
        flagged = df.withColumn("_us", F.unix_micros(F.col(ts_col)))
        for i, s in enumerate(self.steps):
            flagged = flagged.withColumn(f"_m{i}", s.where)
        # row r is the LAST step; step i must have matched n-1-i rows back
        cond = F.col(f"_m{n - 1}")
        for i in range(n - 1):
            cond = cond & F.coalesce(
                F.lag(F.col(f"_m{i}"), n - 1 - i).over(w), F.lit(False)
            )
        span_ok = (
            F.col("_us") - F.lag("_us", n - 1).over(w)
            <= self.within_sec * 1_000_000
        )
        out_cols = [F.col(key)] + [
            F.lag("_us", n - 1 - i).over(w).alias(f"{s.name}_us")
            for i, s in enumerate(self.steps)
        ]
        return (
            flagged.withColumn("_hit", cond & span_ok)
            .select(*out_cols, "_hit")
            .filter(F.col("_hit"))
            .drop("_hit")
        )

    # -------------------------------------------- relaxed (join + argmin) --
    def completions(self, df: DataFrame, key: str, ts_col: str) -> DataFrame:
        """Every start of a followed_by pattern with its earliest
        completion inside the bound: key, ``<first>_us`` and
        ``<second>_us``, the latter NULL when the start timed out (the
        reference's OrderTimeout side output, OrderTimeout.scala:32-64)."""
        if self._validate() != "relaxed":
            raise ValueError("completions are defined for followed_by patterns")
        first, second = self.steps
        first_us, second_us = f"{first.name}_us", f"{second.name}_us"
        us = F.unix_micros(F.col(ts_col))
        a = df.filter(first.where).select(
            F.col(key).alias("_k"), us.alias(first_us)
        )
        b = df.filter(second.where).select(
            F.col(key).alias("_k"), us.alias(second_us)
        )
        after = (
            b[second_us] > a[first_us]
            if second.strictly_after
            else b[second_us] >= a[first_us]
        )
        joined = a.join(
            b,
            on=[
                a["_k"] == b["_k"],
                after,
                b[second_us] <= a[first_us] + self.within_sec * 1_000_000,
            ],
            how="left",
        ).select(a["_k"].alias(key), first_us, second_us)
        return joined.groupBy(key, first_us).agg(
            F.min(second_us).alias(second_us)
        )


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sugar over the Pattern builder (round-8 depth item:
# the SQL:2016 row-pattern surface Flink SQL exposes — reference users who
# write MATCH_RECOGNIZE instead of the DataStream CEP API get the same
# spelling here, compiled to the identical lag-chain / join-argmin plans).
_WITHIN_UNITS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}


def _parse_within(within: str) -> int:
    import re

    m = re.fullmatch(r"\s*(\d+)\s+([a-z]+)\s*", within.lower())
    if not m or m.group(2) not in _WITHIN_UNITS:
        raise ValueError(
            f"within must look like '15 minutes' (units: "
            f"{sorted(set(_WITHIN_UNITS))}); got {within!r}"
        )
    return int(m.group(1)) * _WITHIN_UNITS[m.group(2)]


def match_recognize(
    df: DataFrame,
    partition_by: str,
    order_by: str | list[str],
    pattern: str,
    define: dict[str, "Column | str"],
    within: str,
) -> DataFrame:
    """SQL:2016 row-pattern sugar, Flink-SQL MATCH_RECOGNIZE flavored::

        match_recognize(
            events, partition_by="user_id", order_by=["ts", "event_id"],
            pattern="A A A",                    # strict contiguity
            define={"A": "event_type = 'error'"},
            within="24 hours",
        )
        match_recognize(
            orders, partition_by="order_id", order_by="ts",
            pattern="CREATE -> PAY",            # relaxed (followedBy)
            define={"CREATE": "event_type = 'create'",
                    "PAY": "event_type = 'pay'"},
            within="15 minutes",
        )

    ``pattern``: space-separated variables = STRICT contiguity (Flink CEP
    ``next``, any length); a single ``->`` between two variables = RELAXED
    contiguity (``followedBy`` — first qualifying completion per start).
    Repeating a variable (``"A A A"``) reuses its DEFINE predicate per
    step. ``define`` values are SQL boolean strings (``F.expr``-compiled)
    or Columns. Event time = the first ``order_by`` column (the
    MATCH_RECOGNIZE ordering column); ``within`` bounds last-step time
    minus first-step time, closed interval, like the builder.

    Output: one row per completed match — ``partition_by`` plus
    ``<var>_us`` (epoch micros) per step, numbered ``<var>2_us`` etc. on
    repeats — exactly the Pattern builder's contract, because this IS the
    Pattern builder: the sugar only parses, the plan shapes (lag chain /
    join + min-aggregate) are pinned by the builder's own gates
    (`login_fail_triple_cep`, `order_timeout`).
    """
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    if not order_cols:
        raise ValueError("order_by must name at least one column")
    relaxed = "->" in pattern
    tokens = (
        [t.strip() for t in pattern.split("->")]
        if relaxed
        else pattern.split()
    )
    if relaxed and (len(tokens) != 2 or any(" " in t for t in tokens)):
        raise ValueError(
            "relaxed patterns support exactly 'A -> B'; chain calls for "
            "longer relaxed sequences"
        )
    if len(tokens) < 2:
        raise ValueError("pattern needs at least two steps")
    unknown = [t for t in tokens if t not in define]
    if unknown:
        raise ValueError(f"pattern variables without DEFINE: {unknown}")

    def _cond(v: str) -> Column:
        c = define[v]
        return F.expr(c) if isinstance(c, str) else c

    seen: dict[str, int] = {}

    def _step_name(v: str) -> str:
        seen[v] = seen.get(v, 0) + 1
        return v if seen[v] == 1 else f"{v}{seen[v]}"

    pat = Pattern.begin(_step_name(tokens[0]), _cond(tokens[0]))
    for v in tokens[1:]:
        pat = (
            pat.followed_by(_step_name(v), _cond(v))
            if relaxed
            else pat.next(_step_name(v), _cond(v))
        )
    pat = pat.within(_parse_within(within))
    return pat.detect(
        df, partition_by, order_cols[0], order_cols=order_cols
    )
