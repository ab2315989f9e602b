"""Custom stateful streaming operators.

The reference has no streaming at all (its watcher polls task files,
/root/reference/dasladen/processor.py:298-338) — these are the
north-star additions a continuous event pipeline needs, expressed in
Structured Streaming's bounded-state idioms:

- session windows with a watermark (built-in `session_window`)
- per-key running statistics via `applyInPandasWithState` — the
  escape hatch for aggregates Spark doesn't ship, with explicit
  state schema + processing-time timeout so state can't grow
  unboundedly
- watermarked streaming dedup (`dropDuplicatesWithinWatermark`)

Every operator also accepts a batch DataFrame where semantics allow,
so the same pipeline code runs in backfill and live modes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation: events for a key separated by less
    than ``gap`` merge into one session. Streaming state is bounded
    by the watermark; in batch mode the same expression computes the
    identical sessions in one pass."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session"),
        F.col(key_col),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
    )


#: output schema of running_stats (kept module-level so batch parity
#: checks and the streaming query share one definition)
RUNNING_STATS_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, max_value double"
)
_STATE_SCHEMA = "n bigint, total double, mx double"


def _fold_by_key(
    events: DataFrame,
    init: tuple,
    fold,
    emit,
    output_schema: str,
    state_schema: str,
    timeout_ms: int | None,
    ordered: bool = True,
) -> DataFrame:
    """The one ``applyInPandasWithState`` driver of every per-user fold
    here: ``fold(state, rows)`` gets the key's state (``init`` if new)
    and its new rows as one frame — sorted by (ts, event_id) when
    ``ordered``, so the fold is a pure function of the event sequence
    — and returns the new state; ``emit(state)`` gives the output
    columns after ``user_id`` as a dict. With ``timeout_ms`` an idle
    key emits its final row once and its state is removed (bounded
    state); the timeout is re-armed on EVERY invocation, because
    selecting ProcessingTimeTimeout on the query alone expires
    nothing."""

    def row(key: tuple[Any, ...], st: tuple) -> pd.DataFrame:
        out = {"user_id": key[0], **emit(st)}
        return pd.DataFrame({c: [v] for c, v in out.items()})

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            st = tuple(state.get)
            state.remove()
            yield row(key, st)
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if ordered:
            rows = rows.sort_values(["ts", "event_id"])
        st = fold(tuple(state.get) if state.exists else init, rows)
        state.update(st)
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield row(key, st)

    cols = ("ts", "event_id", "value") if ordered else ("value",)
    return (
        events.select("user_id", *cols)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms
            else GroupStateTimeout.NoTimeout,
        )
    )


def running_user_stats(events: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """Per-user running (count, sum, max) across micro-batches —
    a custom stateful aggregate via ``applyInPandasWithState``.

    State is one fixed-width row per user (bounded); an optional
    processing-time timeout expires idle keys (final row emitted,
    state removed) so a 100 TB keyspace can't pin state forever.
    Input needs (user_id, value) columns."""

    def fold(st: tuple, rows: pd.DataFrame) -> tuple:
        n, total, mx = st
        vals = rows["value"].astype("float64")
        if len(vals):
            mx = max(mx, float(vals.max()))
        return n + int(len(vals)), total + float(vals.sum()), mx

    return _fold_by_key(
        events,
        (0, 0.0, float("-inf")),
        fold,
        lambda st: {
            "n_events": st[0], "total_value": st[1], "max_value": st[2]
        },
        RUNNING_STATS_SCHEMA,
        _STATE_SCHEMA,
        timeout_ms,
        ordered=False,
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key emission within the watermark horizon:
    `dropDuplicatesWithinWatermark` keeps state only until the
    watermark passes each key — the bounded-state form of streaming
    dedup (plain dropDuplicates on a stream retains state forever).
    Batch frames fall back to plain dropDuplicates."""
    if not events.isStreaming:
        return events.dropDuplicates(key_cols)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


#: output schema of ewma_by_key (module-level: parity tests share it)
EWMA_SCHEMA = "user_id bigint, n_events bigint, ewma double"
_EWMA_STATE_SCHEMA = "n bigint, s double"


def ewma_by_key(
    events: DataFrame,
    alpha: float = 0.2,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-user exponentially-weighted running mean across
    micro-batches — the streaming sibling of q_ewma_weekly_revenue
    (there the decay is over a bounded window for oracle parity;
    here it is the true unbounded recursion s ← α·x + (1−α)·s, which
    only a stateful operator can maintain). State per key is TWO
    numbers regardless of history length — the textbook case for
    ``applyInPandasWithState`` over a raw-event replay, which would
    re-read the full history every trigger. Input needs
    (user_id, ts, event_id, value) columns."""

    def fold(st: tuple, rows: pd.DataFrame) -> tuple:
        n, s = st
        for x in rows["value"].astype("float64"):
            s = float(x) if n == 0 else alpha * float(x) + (1.0 - alpha) * s
            n += 1
        return n, s

    return _fold_by_key(
        events,
        (0, 0.0),
        fold,
        lambda st: {"n_events": st[0], "ewma": st[1]},
        EWMA_SCHEMA,
        _EWMA_STATE_SCHEMA,
        timeout_ms,
    )


CUSUM_SCHEMA = (
    "user_id bigint, n_events bigint, cusum double, drift boolean"
)
_CUSUM_STATE_SCHEMA = "n bigint, s double"


def cusum_by_key(
    events: DataFrame,
    slack: float,
    threshold: float,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-user one-sided CUSUM drift detector across micro-batches —
    the streaming sibling of q_cusum_drift (there the whole history
    is replayed through the prefix-min closed form; here the true
    recursion S ← max(0, S + x − slack) runs live, which only a
    stateful operator can maintain). Emits the running statistic and
    a drift flag once S crosses ``threshold``; state per key is TWO
    numbers regardless of history length. Unlike the batch
    q_cusum_drift (data-derived slack), slack/threshold are
    parameters: a live monitor alarms against an agreed baseline,
    not one it re-estimates per batch. Input needs
    (user_id, ts, event_id, value) columns."""

    def fold(st: tuple, rows: pd.DataFrame) -> tuple:
        n, s = st
        for x in rows["value"].astype("float64"):
            s = max(0.0, s + (float(x) - slack))
            n += 1
        return n, s

    return _fold_by_key(
        events,
        (0, 0.0),
        fold,
        lambda st: {
            "n_events": st[0], "cusum": st[1], "drift": st[1] > threshold
        },
        CUSUM_SCHEMA,
        _CUSUM_STATE_SCHEMA,
        timeout_ms,
    )


P2_SCHEMA = "user_id bigint, n_events bigint, quantile double"
_P2_STATE_SCHEMA = "cnt bigint, q array<double>, n array<bigint>"


def _p2_step(q: list, n: list, x: float, p: float) -> None:
    """One P² update (Jain & Chlamtac 1985): adjust the five markers
    for a new observation ``x``. ``q`` heights and ``n`` positions
    mutate in place; caller guarantees len(q) == len(n) == 5."""
    if x < q[0]:
        q[0] = x
        k = 0
    elif x >= q[4]:
        q[4] = x
        k = 3
    else:
        k = 0
        for i in range(1, 4):
            if x >= q[i]:
                k = i
    for i in range(k + 1, 5):
        n[i] += 1
    # desired positions after cnt observations: 1, 1+2p(c-1)/4... we
    # track them incrementally via the standard dn' increments
    dns = (0.0, p / 2.0, p, (1.0 + p) / 2.0, 1.0)
    # n'_i lives implicitly: n'_i = 1 + dns[i] * (cnt - 1); compute
    # from the running count tracked by the caller via n[4]
    cnt = n[4]
    for i in (1, 2, 3):
        want = 1.0 + dns[i] * (cnt - 1)
        d = want - n[i]
        if (d >= 1.0 and n[i + 1] - n[i] > 1) or (
            d <= -1.0 and n[i - 1] - n[i] < -1
        ):
            d = 1.0 if d >= 1.0 else -1.0
            # parabolic (P²) interpolation, else linear
            qi = q[i] + d / (n[i + 1] - n[i - 1]) * (
                (n[i] - n[i - 1] + d)
                * (q[i + 1] - q[i])
                / (n[i + 1] - n[i])
                + (n[i + 1] - n[i] - d)
                * (q[i] - q[i - 1])
                / (n[i] - n[i - 1])
            )
            if q[i - 1] < qi < q[i + 1]:
                q[i] = qi
            else:
                j = i + (1 if d > 0 else -1)
                q[i] = q[i] + d * (q[j] - q[i]) / (n[j] - n[i])
            n[i] = int(n[i] + d)


def _p2_estimate(cnt: int, q: list, p: float) -> float:
    if cnt <= 5:
        s = sorted(q[:cnt])
        if not s:
            return float("nan")
        # nearest-rank (ceil(p·n) − 1) on the raw retained values —
        # int(p·n) would floor to the UPPER value for even counts at
        # the median
        import math

        idx = max(0, min(cnt - 1, math.ceil(p * cnt) - 1))
        return s[idx]
    return q[2]


def p2_quantile_by_key(
    events: DataFrame,
    p: float = 0.5,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-user streaming quantile estimate via the P² algorithm —
    FIVE markers of state per key regardless of history length, the
    classic bounded-memory answer to "p95 latency per key over an
    unbounded stream" (exact per-key percentiles would buffer every
    observation; approx_percentile sketches don't run incrementally
    per key inside a stateful operator). Estimates converge to the
    true quantile as the stream grows; the first five observations
    are exact (nearest-rank on the retained values). Input needs
    (user_id, ts, event_id, value) columns."""

    def fold(st: tuple, rows: pd.DataFrame) -> tuple:
        cnt, q, n = st
        q, n = list(q), list(n)
        for x in rows["value"].astype("float64"):
            x = float(x)
            if cnt < 5:
                q[cnt] = x
                cnt += 1
                if cnt == 5:
                    q.sort()
                    n = [1, 2, 3, 4, 5]
            else:
                cnt += 1
                # _p2_step increments the marker positions itself
                # (n[4] always advances by 1 per observation)
                _p2_step(q, n, x, p)
        return cnt, q, n

    return _fold_by_key(
        events,
        (0, [0.0] * 5, [0] * 5),
        fold,
        lambda st: {
            "n_events": st[0], "quantile": _p2_estimate(st[0], list(st[1]), p)
        },
        P2_SCHEMA,
        _P2_STATE_SCHEMA,
        timeout_ms,
    )


HOLT_SCHEMA = (
    "user_id bigint, n_events bigint, level double, trend double,"
    " forecast double"
)
_HOLT_STATE_SCHEMA = "n bigint, l double, b double"


def holt_by_key(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-user Holt double-exponential smoothing across
    micro-batches — level AND trend where ewma_by_key tracks level
    only, so the emitted one-step ``forecast`` (level + trend)
    anticipates drifting series instead of lagging them:
    level ← α·x + (1−α)(level + trend); trend ← β·(level − level₋₁)
    + (1−β)·trend. State per key is THREE numbers regardless of
    history length. Init follows the standard convention: first value
    seeds the level, the first difference seeds the trend. Input
    needs (user_id, ts, event_id, value) columns."""

    def fold(st: tuple, rows: pd.DataFrame) -> tuple:
        n, lvl, b = st
        for x in rows["value"].astype("float64"):
            x = float(x)
            if n == 0:
                lvl, b = x, 0.0
            elif n == 1:
                b = x - lvl
                lvl = alpha * x + (1.0 - alpha) * (lvl + b)
            else:
                prev = lvl
                lvl = alpha * x + (1.0 - alpha) * (lvl + b)
                b = beta * (lvl - prev) + (1.0 - beta) * b
            n += 1
        return n, lvl, b

    return _fold_by_key(
        events,
        (0, 0.0, 0.0),
        fold,
        lambda st: {
            "n_events": st[0],
            "level": st[1],
            "trend": st[2],
            "forecast": st[1] + st[2],
        },
        HOLT_SCHEMA,
        _HOLT_STATE_SCHEMA,
        timeout_ms,
    )
