"""Stateful streaming kernels via applyInPandasWithState
(SURVEY.md §2.6 C2/C4/C5/C6, §2.5 J1, §2.3 W11).

Each kernel is the Spark-native re-expression of a reference
KeyedProcessFunction / CoProcessFunction / CEP pattern: keyed state lives in
the state store (RocksDB-capable at scale), event-time timers become
EventTimeTimeout + setTimeoutTimestamp, side outputs become a
``result_type`` discriminator column the caller splits on (SURVEY.md §1.4).

Rows inside a micro-batch are sorted per key by event time before applying
the transition function, so within-watermark disorder cannot flip outcomes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _set_timer(state: GroupState, desired_ms: int) -> None:
    """Set an event-time timer, clamped above the current watermark.

    Re-processing a key after the watermark passed its old horizon (routine
    under at-least-once delivery: a duplicate event re-caches stale state)
    must not request a timer in the past — GroupState raises and the whole
    query dies. Clamping fires the timeout at the next watermark advance,
    which is the earliest legal moment.
    """
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(desired_ms, wm + 1))


# ---------------------------------------------------------------------------
# C4/C5/C6 — order pay-timeout monitor.
# Reference: DW-Flink OrderTimeoutDetect app/OrderTimeout.scala:32-64,
# OrderTimeoutWithoutCep.scala:38-111. Four outcome classes:
#   payed | timeout | payed_but_timeout | pay_without_create
# ---------------------------------------------------------------------------

ORDER_OUT_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("create_us", T.LongType()),
        T.StructField("pay_us", T.LongType()),
        T.StructField("result_type", T.StringType()),
    ]
)
ORDER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("create_us", T.LongType()),
        T.StructField("pay_us", T.LongType()),
    ]
)


def make_order_timeout_fn(timeout_sec: int):
    timeout_us = timeout_sec * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        order_id = key[0]

        def emit(create_us: int, pay_us: int, result: str) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "order_id": [order_id],
                    "create_us": [create_us if create_us else None],
                    "pay_us": [pay_us if pay_us else None],
                    "result_type": [result],
                }
            )

        if state.hasTimedOut:
            create_us, pay_us = state.get
            state.remove()
            if create_us and not pay_us:
                yield emit(create_us, 0, "timeout")
            elif pay_us and not create_us:
                yield emit(0, pay_us, "pay_without_create")
            return

        create_us, pay_us = state.get if state.exists else (0, 0)
        out: list[pd.DataFrame] = []
        done = False
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        for row in rows.itertuples(index=False):
            ev_us = int(row.ts.value // 1_000)
            if row.event_type == "create":
                create_us = ev_us
            else:
                pay_us = pay_us or ev_us
            if create_us and pay_us:
                # no lower bound: a pay that (by clock skew or arrival order)
                # precedes the create is still a pay, matching the reference's
                # payTime < createTime + timeout check
                ok = pay_us - create_us <= timeout_us
                out.append(
                    emit(create_us, pay_us, "payed" if ok else "payed_but_timeout")
                )
                done = True
                break
        if done:
            state.remove()
        else:
            state.update((create_us, pay_us))
            if create_us:
                _set_timer(state, create_us // 1000 + timeout_sec * 1000)
            else:  # pay with no create yet: wait a 5 s grace period for it
                _set_timer(state, pay_us // 1000 + 5_000)
        yield from iter(out)

    return fn


def order_timeout_stream(orders: DataFrame, timeout_sec: int) -> DataFrame:
    """Streaming order monitor: orders(order_id, event_type∈{create,pay}, ts).

    Emits one row per order with the 4-class outcome; timers fire when the
    event-time watermark passes create+timeout (or pay+grace).

    Batch twin: operators.patterns.Pattern.begin.followed_by.within →
    ``completions`` (2 classes), as `plans/flink_jobs.py::order_timeout`
    compiles it.
    """
    wm = orders.withWatermark("ts", "0 seconds")
    return wm.groupBy("order_id").applyInPandasWithState(
        make_order_timeout_fn(timeout_sec),
        ORDER_OUT_SCHEMA,
        ORDER_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# C2 — login-fail threshold detector.
# Reference: DW-Flink LoginFailDetect app/LoginFail.scala:39-69 (ListState of
# fails + timer; warn when count ≥ threshold with first/last fail times).
# ---------------------------------------------------------------------------

LOGIN_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("first_fail_us", T.LongType()),
        T.StructField("last_fail_us", T.LongType()),
        T.StructField("fail_cnt", T.IntegerType()),
    ]
)
LOGIN_STATE_SCHEMA = T.StructType(
    [T.StructField("fails", T.ArrayType(T.LongType()))]
)


def make_login_fail_fn(window_sec: int, min_count: int):
    window_us = window_sec * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        if state.hasTimedOut:
            state.remove()
            return
        fails: list[int] = list(state.get[0]) if state.exists else []
        out = []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        for row in rows.itertuples(index=False):
            ev_us = int(row.ts.value // 1_000)
            if row.status == "fail":
                fails.append(ev_us)
                fails = [t for t in fails if ev_us - t <= window_us]
                if len(fails) >= min_count:
                    out.append(
                        pd.DataFrame(
                            {
                                "user_id": [user_id],
                                "first_fail_us": [fails[0]],
                                "last_fail_us": [fails[-1]],
                                "fail_cnt": [len(fails)],
                            }
                        )
                    )
                    fails = []  # one-shot warning, then reset (reference C2)
            else:  # success resets the sequence
                fails = []
        if fails:
            state.update((fails,))
            _set_timer(state, fails[-1] // 1000 + window_sec * 1000)
        else:
            state.remove()
        yield from iter(out)

    return fn


def login_fail_stream(
    logins: DataFrame, window_sec: int, min_count: int
) -> DataFrame:
    """Streaming brute-force detector: ≥N fails within window, reset on
    success; emits (user, first/last fail time, count) once per burst."""
    wm = logins.withWatermark("ts", "3 seconds")
    return wm.groupBy("user_id").applyInPandasWithState(
        make_login_fail_fn(window_sec, min_count),
        LOGIN_OUT_SCHEMA,
        LOGIN_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# C1/C3 — CEP strict sequence: fail immediately followed by fail within t.
# Reference: DW-Flink LoginFailDetect app/LoginFailWithCEP.scala:38-59
# (Pattern.begin("fail").next("fail").within(t)); state = last event only.
# ---------------------------------------------------------------------------

CONSEC_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("first_fail_us", T.LongType()),
        T.StructField("last_fail_us", T.LongType()),
    ]
)
CONSEC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_status", T.StringType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def make_consecutive_fail_fn(max_gap_sec: int):
    gap_us = max_gap_sec * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        if state.hasTimedOut:
            state.remove()
            return
        last_status, last_us = state.get if state.exists else ("", 0)
        out = []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        for row in rows.itertuples(index=False):
            ev_us = int(row.ts.value // 1_000)
            if (
                row.status == "fail"
                and last_status == "fail"
                and ev_us - last_us <= gap_us
            ):
                out.append(
                    pd.DataFrame(
                        {
                            "user_id": [user_id],
                            "first_fail_us": [last_us],
                            "last_fail_us": [ev_us],
                        }
                    )
                )
            last_status, last_us = row.status, ev_us
        state.update((last_status, last_us))
        # state is only needed while a follow-up fail could still qualify
        _set_timer(state, last_us // 1000 + max_gap_sec * 1000)
        yield from iter(out)

    return fn


def consecutive_fail_stream(logins: DataFrame, max_gap_sec: int = 2) -> DataFrame:
    """Streaming CEP-strict detector: fail `next` fail within the bound.

    Batch twin: operators.patterns.Pattern.begin.next.within (lag
    chain), as `plans/flink_jobs.py::login_fail_warnings` compiles it.
    """
    wm = logins.withWatermark("ts", "3 seconds")
    return wm.groupBy("user_id").applyInPandasWithState(
        make_consecutive_fail_fn(max_gap_sec),
        CONSEC_OUT_SCHEMA,
        CONSEC_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# W11/C7 — per-key running counter with daily reset + one-time blacklist.
# Reference: DW-Flink MarketAnalysis app/AdStatisticByGeo.scala:71-111
# (ValueState counter, processing-time timer at next midnight, isFirstSent
# dedup flag). The streaming kernel keys on (user, ad); the "clock" is event
# time here — the day of the event — which makes the reset testable and
# replay-deterministic (SURVEY.md §7.4 mitigation: inject the clock).
# ---------------------------------------------------------------------------

BLACKLIST_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ad_id", T.LongType()),
        T.StructField("day", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("result_type", T.StringType()),
    ]
)
BLACKLIST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("warned", T.BooleanType()),
    ]
)


def make_blacklist_fn(max_count: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id, ad_id = key
        if state.hasTimedOut:
            state.remove()
            return
        day, cnt, warned = state.get if state.exists else ("", 0, False)
        out_rows: list[tuple] = []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        last_us = 0
        for row in rows.itertuples(index=False):
            ev_us = int(row.ts.value // 1_000)
            last_us = ev_us
            ev_day = row.ts.strftime("%Y-%m-%d")
            if ev_day < day:
                # late event for a closed day: excluded from the live counter
                # but surfaced (the batch twin emits every surviving row)
                out_rows.append((user_id, ad_id, ev_day, 0, "late_click"))
                continue
            if ev_day > day:  # midnight passed: reset (the reference timer)
                day, cnt, warned = ev_day, 0, False
            cnt += 1
            if cnt <= max_count:
                out_rows.append((user_id, ad_id, day, cnt, "click"))
            elif not warned:
                warned = True
                out_rows.append(
                    (user_id, ad_id, day, cnt, "blacklist_warning")
                )
            # past the threshold and already warned: suppressed
        state.update((day, cnt, warned))
        _set_timer(state, last_us // 1000 + 86_400_000)
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=["user_id", "ad_id", "day", "cnt", "result_type"],
            )

    return fn


def blacklist_stream(
    clicks: DataFrame,
    max_per_day: int = 50,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming click counter with daily reset and one-time warnings.

    Emits surviving clicks (≤ max/day) and exactly one blacklist_warning per
    (user, ad, day) crossing; further clicks that day are suppressed.
    """
    wm = clicks.withWatermark("ts", watermark)
    return wm.groupBy("user_id", "ad_id").applyInPandasWithState(
        make_blacklist_fn(max_per_day),
        BLACKLIST_OUT_SCHEMA,
        BLACKLIST_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# J1 — two-stream reconciliation with timeout side-outputs.
# Reference: DW-Flink OrderTimeoutDetect app/TxMatch.scala:46-94
# (CoProcessFunction on connect; ValueState each side; +5 s event timer).
# Spark form: union the tagged streams, key by tx_id, one kernel.
# ---------------------------------------------------------------------------

TX_OUT_SCHEMA = T.StructType(
    [
        T.StructField("tx_id", T.StringType()),
        T.StructField("pay_us", T.LongType()),
        T.StructField("receipt_us", T.LongType()),
        T.StructField("result_type", T.StringType()),
    ]
)
TX_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pay_us", T.LongType()),
        T.StructField("receipt_us", T.LongType()),
    ]
)


def make_tx_match_fn(timeout_sec: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tx_id = key[0]

        def emit(pay_us: int, receipt_us: int, result: str) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "tx_id": [tx_id],
                    "pay_us": [pay_us if pay_us else None],
                    "receipt_us": [receipt_us if receipt_us else None],
                    "result_type": [result],
                }
            )

        if state.hasTimedOut:
            pay_us, receipt_us = state.get
            state.remove()
            if pay_us:
                yield emit(pay_us, 0, "unmatched_pay")
            if receipt_us:
                yield emit(0, receipt_us, "unmatched_receipt")
            return

        pay_us, receipt_us = state.get if state.exists else (0, 0)
        out = []
        matched = False
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        for row in rows.itertuples(index=False):
            ev_us = int(row.ts.value // 1_000)
            if row.side == "pay":
                pay_us = pay_us or ev_us
            else:
                receipt_us = receipt_us or ev_us
            if pay_us and receipt_us:
                out.append(emit(pay_us, receipt_us, "matched"))
                matched = True
                break
        if matched:
            state.remove()
        else:
            state.update((pay_us, receipt_us))
            _set_timer(
                state, max(pay_us, receipt_us) // 1000 + timeout_sec * 1000
            )
        yield from iter(out)

    return fn


def tx_match_stream(
    pays: DataFrame,
    receipts: DataFrame,
    timeout_sec: int = 5,
) -> DataFrame:
    """Streaming pay/receipt reconciliation: matched + both unmatched sides.

    Both inputs need (tx_id, ts); they are tagged and unioned (Spark's
    equivalent of Flink's connect), then processed by one keyed kernel.
    """
    p = pays.select("tx_id", "ts", F.lit("pay").alias("side"))
    r = receipts.select("tx_id", "ts", F.lit("receipt").alias("side"))
    union = p.unionByName(r).withWatermark("ts", "0 seconds")
    return union.groupBy("tx_id").applyInPandasWithState(
        make_tx_match_fn(timeout_sec),
        TX_OUT_SCHEMA,
        TX_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
