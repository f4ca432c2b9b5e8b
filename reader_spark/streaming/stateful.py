"""Custom stateful streaming operator: gap-based sessionization via
applyInPandasWithState.

The reference's only long-lived stream state is bookkeeping (schema
adapters C5, GTID sets C4, shard offsets C9 — SURVEY §2.7); those
collapse into checkpoints/watermarks here. This module is the
template for state that CANNOT collapse: per-key accumulators with
event-time timeouts (session windows, transaction assembly, dedupe
with custom eviction). Pattern: Arrow-batched per-group pandas
handler + engine-managed state store + watermark-driven timeout —
state lives in the checkpoint, scales with keys not events, and is
evicted by the timeout (no unbounded TTL map).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
# state: [start_us, end_us, n]
STATE_SCHEMA = "start long, end long, n long"

US = 1_000_000


def _micros(ts: pd.Series) -> pd.Series:
    return ts.astype("int64") // 1000  # pandas ns -> us


def make_sessionizer(gap_s: int):
    """Returns the per-group handler closing sessions after `gap_s`
    of event-time silence."""

    gap_us = gap_s * US

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple] = []

        if state.hasTimedOut:
            if state.exists:
                start, end, n = state.get
                closed.append((user_id, start, end, n))
                state.remove()
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            ts = sorted(_micros(rows["ts"]))
            if state.exists:
                start, end, n = state.get
            else:
                start, end, n = None, None, 0
            for t in ts:
                if start is None:
                    start, end, n = t, t, 1
                elif t - end > gap_us:
                    closed.append((user_id, start, end, n))
                    start, end, n = t, t, 1
                else:
                    end, n = max(end, t), n + 1
            state.update((start, end, n))
            # Event-time timeout: fire when the watermark passes the
            # session end + gap (timestamp is in millis).
            state.setTimeoutTimestamp((end + gap_us) // 1000)

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "session_end": pd.to_datetime([c[2] for c in closed], unit="us"),
                    "n_events": [c[3] for c in closed],
                }
            )

    return fn


def sessionize_stream(
    events: DataFrame,
    gap_s: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Append-mode session stream: one output row per CLOSED session
    (closed by a later event beyond the gap, or by the watermark
    passing end+gap). One shuffle on the key; state size = live keys."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            make_sessionizer(gap_s),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming funnel — multi-step state machine per key

FUNNEL_SCHEMA = (
    "user_id long, ts_0 timestamp, ts_1 timestamp, ts_2 timestamp"
)
# open chains: [(t0_us, t1_us or -1), ...]
FUNNEL_STATE_SCHEMA = "t0s array<long>, t1s array<long>"


def make_funnel(steps: tuple, horizon_s: int):
    """Per-user funnel state machine (first-touch, same semantics as
    joins.funnel_steps): a step-0 event opens a chain; the first
    step-1 event strictly after it within the horizon advances it;
    the first step-2 event after that completes it. Rows emit as soon
    as their outcome is PROVEN — completion on the closing event, or
    failure when the first following event is beyond the horizon or
    the watermark passes the deadline (event-time timeout).

    Events are processed in event-time order within each batch;
    cross-batch ordering is assumed per key (the binlog/app-log
    case). Exactly-once emission per opened chain; state = open
    chains per user, evicted by completion or timeout.
    """
    horizon_us = horizon_s * US
    s0, s1, s2 = steps

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        out: list[tuple] = []  # (t0, t1 or None, t2 or None)
        if state.exists:
            t0s, t1s = state.get
            chains = [[a, b] for a, b in zip(t0s, t1s)]
        else:
            chains = []

        def expire(wm_us: int) -> None:
            keep = []
            for t0, t1 in chains:
                if t1 < 0 and wm_us > t0 + horizon_us:
                    out.append((t0, None, None))
                elif t1 >= 0 and wm_us > t1 + horizon_us:
                    out.append((t0, t1, None))
                else:
                    keep.append([t0, t1])
            chains[:] = keep

        wm_us = state.getCurrentWatermarkMs() * 1000

        if state.hasTimedOut:
            expire(wm_us)
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            ev = sorted(
                zip(_micros(rows["ts"]), rows["event_type"]),
                key=lambda p: p[0],
            )
            for t, kind in ev:
                if kind == s0:
                    chains.append([t, -1])
                elif kind == s1:
                    for c in chains:
                        if c[1] < 0 and t > c[0]:
                            if t - c[0] <= horizon_us:
                                c[1] = t
                            else:
                                # first step-1 after t0 proves failure
                                out.append((c[0], None, None))
                                c[0] = -2  # mark emitted
                    chains[:] = [c for c in chains if c[0] != -2]
                elif kind == s2:
                    for c in chains:
                        if c[1] >= 0 and t > c[1]:
                            if t - c[1] <= horizon_us:
                                out.append((c[0], c[1], t))
                            else:
                                out.append((c[0], c[1], None))
                            c[0] = -2
                    chains[:] = [c for c in chains if c[0] != -2]
            expire(wm_us)

        if chains:
            state.update((
                [c[0] for c in chains], [c[1] for c in chains],
            ))
            deadline_us = min(
                (c[0] if c[1] < 0 else c[1]) + horizon_us for c in chains
            )
            # timeout must sit beyond the current watermark
            state.setTimeoutTimestamp(max(deadline_us // 1000, wm_us // 1000 + 1))
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "ts_0": pd.to_datetime([o[0] for o in out], unit="us"),
                    "ts_1": pd.to_datetime(
                        [o[1] for o in out], unit="us", errors="coerce"
                    ),
                    "ts_2": pd.to_datetime(
                        [o[2] for o in out], unit="us", errors="coerce"
                    ),
                }
            )

    return fn


def funnel_stream(
    events: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
    horizon_s: int = 7200,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Append-mode streaming funnel: one output row per opened chain,
    emitted exactly once when its outcome is proven (the streaming
    form of joins.funnel_steps). One shuffle on the user key; state =
    open chains per user, watermark-evicted."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            make_funnel(steps, horizon_s),
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters (Misra-Gries state per hash bucket)

HH_SCHEMA = "bucket int, term string, lb long"
# state: parallel arrays (terms, counters)
HH_STATE_SCHEMA = "terms array<string>, counts array<long>"


def make_heavy_hitter_tracker(k: int):
    """Per-bucket Misra-Gries tracker: state is at most k (term,
    counter) pairs no matter how many events stream through the
    bucket; every batch emits the bucket's CURRENT summary (term +
    lower-bound count). Same guarantee as the batch sketch
    (operators/sketches.py): any term with true bucket frequency
    > n_bucket/(k+1) is present in the emitted summary."""

    def fn(key, pdfs, state):
        (bucket,) = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        counters: dict[str, int] = {}
        if state.exists:
            terms, counts = state.get
            counters = dict(zip(terms, counts))
        for pdf in pdfs:
            for t in pdf["term"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    dead = []
                    for key2 in counters:
                        counters[key2] -= 1
                        if counters[key2] == 0:
                            dead.append(key2)
                    for key2 in dead:
                        del counters[key2]
        state.update((list(counters.keys()), list(counters.values())))
        yield pd.DataFrame(
            {
                "bucket": [bucket] * len(counters),
                "term": list(counters.keys()),
                "lb": list(counters.values()),
            }
        )

    return fn


def heavy_hitters_stream(
    events: DataFrame, k: int = 10, n_buckets: int = 8,
    term_col: str = "term",
) -> DataFrame:
    """Streaming heavy hitters: terms are hash-bucketed (uniform md5,
    so each bucket sees ~1/n_buckets of the stream) and each bucket
    maintains a Misra-Gries summary of size k in the state store —
    O(n_buckets * k) TOTAL state for an unbounded stream. Each
    micro-batch emits every touched bucket's current summary; the
    consumer unions bucket summaries (a term lives in exactly one
    bucket, so no cross-bucket merge is needed) and, as in the batch
    two-pass pipeline, can exact-recount the candidate set when exact
    counts matter.

    Update mode, no timeout: heavy-hitter state is the bounded
    summary itself (eviction IS the algorithm), unlike sessionization
    where the timeout bounds state.
    """
    from reader_spark.operators.dedup import md5_hash64

    bucketed = events.select(
        F.col(term_col).alias("term"),
        F.pmod(md5_hash64(F.col(term_col), "hhb"), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        make_heavy_hitter_tracker(k),
        outputStructType=HH_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
