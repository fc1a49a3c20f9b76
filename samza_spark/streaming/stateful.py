"""Triggered windows with accumulation modes — the custom stateful operator.

Samza semantics being reproduced (Apache Samza sources):

* early triggers fire panes before window close: count(n),
  timeSinceFirstMessage(d), timeSinceLastMessage(d), any(...), repeat(...)
  — samza-api/.../operators/triggers/Triggers.java:54-106, evaluated once
  per message in samza-core/.../operators/impl/WindowOperatorImpl.java:253-297.
* AccumulationMode.DISCARDING purges pane state on every fire;
  ACCUMULATING keeps it (WindowOperatorImpl.java:272,
  windows/AccumulationMode.java).
* windows are assigned by event time but triggered on processing time
  (a Clock is injected — WindowOperatorImpl.java:104-113).

Catalyst has no per-pane trigger analog (SURVEY.md §4.2 item 1), so one
pane kernel (:class:`_PaneKernel`) holds a key's open windows, exactly
Samza's TimeSeriesStore layout ``(key, windowStart)``
(samza-core/.../operators/impl/store/TimeSeriesStoreImpl.java:79), and two
operators run it: ``applyInPandasWithState`` for streams (the windows travel
between micro-batches as JSON in Spark's state store) and ``applyInPandas``
for batch replay (a key's rows ingested once in event-time order).

Count triggers are exact per message: the kernel cuts a window's rows at
count boundaries, so a ``count(n)`` pane fires at exactly the n-th message
since the last fire however the input is split into micro-batches or Arrow
chunks, and a stream's count panes equal the batch replay's over the same
rows in the same order. Each slice between boundaries is aggregated
vectorised in pandas — no per-row Python in the hot path. Pane output is
append-mode, so the sink sees the same pane stream Samza's downstream
operators see.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from samza_spark.operators.windows import (
    AccumulationMode,
    Trigger,
    WindowSpec,
    WindowType,
)

_AGG_OPS = {"count", "sum", "min", "max", "avg"}


@dataclass(frozen=True)
class AggSpec:
    """A pane aggregation: op in count|sum|min|max|avg over ``col``
    (the FoldLeftFunction analog, Windows.java:128-221; Samza's SQL layer
    only ever folds COUNT — LogicalAggregateTranslator.java:62-87)."""

    name: str
    op: str
    col: str | None = None

    def __post_init__(self):
        if self.op not in _AGG_OPS:
            raise ValueError(f"unsupported pane agg: {self.op}")


def _duration_ms(text: str) -> int:
    qty, unit = text.split()
    unit = unit.rstrip("s")
    scale = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[unit]
    return int(float(qty) * scale)


def _flatten_triggers(t: Trigger | None) -> list[Trigger]:
    if t is None:
        return []
    if t.kind in ("any", "repeat"):
        out: list[Trigger] = []
        for c in t.children:
            out.extend(_flatten_triggers(c))
        return out
    return [t]


def _pane_agg(pdf: pd.DataFrame, aggs: Sequence[AggSpec]) -> dict:
    """Vectorised partial aggregation of a slice of a pane's rows."""
    out = {}
    for a in aggs:
        if a.op == "count":
            out[a.name] = (len(pdf), None)
        elif a.op == "sum":
            out[a.name] = (float(pdf[a.col].sum()), None)
        elif a.op == "min":
            out[a.name] = (float(pdf[a.col].min()), None)
        elif a.op == "max":
            out[a.name] = (float(pdf[a.col].max()), None)
        elif a.op == "avg":
            out[a.name] = (float(pdf[a.col].sum()), len(pdf))
    return out


def _merge_partial(state: dict, partial: dict, aggs: Sequence[AggSpec]) -> None:
    """Fold ``partial`` ({name: (value, n)}, a slice aggregate or another
    pane's state) into ``state`` in place. All supported aggs merge
    commutatively."""
    for a in aggs:
        new_v, new_n = partial[a.name]
        if a.name not in state:
            state[a.name] = [new_v, new_n]
            continue
        cur = state[a.name]
        if a.op in ("count", "sum"):
            cur[0] += new_v
        elif a.op == "min":
            cur[0] = min(cur[0], new_v)
        elif a.op == "max":
            cur[0] = max(cur[0], new_v)
        elif a.op == "avg":
            cur[0] += new_v
            cur[1] += new_n


def _finalize(state: dict, aggs: Sequence[AggSpec]) -> dict:
    out = {}
    for a in aggs:
        v, n = state[a.name]
        if a.op == "count":
            out[a.name] = int(v)
        elif a.op == "avg":
            out[a.name] = v / n if n else None
        else:
            out[a.name] = v
    return out


# ---------------------------------------------------------------------------
# The pane kernel: one state machine for the stream and the batch replay.
# ---------------------------------------------------------------------------


class _PanePlan:
    """A window spec compiled once per operator: what every kernel
    invocation reads, plus the output columns and schema."""

    def __init__(self, df: DataFrame, spec: WindowSpec, aggs: Sequence[AggSpec]):
        triggers = _flatten_triggers(spec.early_trigger)
        counts = [t.count for t in triggers if t.kind == "count"]
        self.aggs = list(aggs)
        self.key_cols = list(spec.key_cols)
        self.ts_col = spec.ts_col
        self.is_session = spec.window_type is WindowType.SESSION
        self.win_ms = _duration_ms(spec.duration) if spec.duration else None
        self.gap_ms = _duration_ms(spec.gap) if spec.gap else None
        self.close_after_ms = self.win_ms or self.gap_ms or 60_000
        # any(count(a), count(b)) fires at the first message satisfying
        # either: the smaller count, since every fire resets the counter
        self.count_n = min(counts) if counts else None
        self.count_reason = f"count({self.count_n})"
        self.since_first = [
            _duration_ms(t.duration) for t in triggers if t.kind == "time_since_first"
        ]
        self.since_last = [
            _duration_ms(t.duration) for t in triggers if t.kind == "time_since_last"
        ]
        self.discarding = spec.accumulation is AccumulationMode.DISCARDING
        self.cols = (
            self.key_cols
            + ["window_start", "window_end"]
            + [a.name for a in aggs]
            + ["pane_seq", "fire_reason", "is_final"]
        )
        key_ddl = "".join(
            f"{f.name} {f.dataType.simpleString()}, "
            for f in df.schema.fields
            if f.name in self.key_cols
        )
        agg_ddl = ", ".join(
            f"{a.name} {'bigint' if a.op == 'count' else 'double'}" for a in aggs
        )
        self.out_ddl = (
            f"{key_ddl}window_start timestamp, window_end timestamp, "
            f"{agg_ddl}, pane_seq int, fire_reason string, is_final boolean"
        )


class _PaneKernel:
    """One key's open windows and the pane rows they fire.

    ``windows`` maps ``"<ws>:<we>"`` (epoch ms) to a pane: ``state``
    ({agg: [value, n]}), ``n_since_fire``, ``seq``, ``first_ms`` /
    ``last_ms`` (processing time of the pane's first / latest ingest) and
    ``quiet_fired``. The dict is the stream's JSON state as is, so the
    stream loads it, ingests each chunk, sweeps and stores it back; the
    batch replay starts from ``{}``, ingests once and closes all."""

    def __init__(self, plan: _PanePlan, key: tuple, windows: dict, now_ms: int):
        self.plan = plan
        self.key_vals = dict(zip(plan.key_cols, key))
        self.windows = windows
        self.now_ms = now_ms
        self.rows: list[dict] = []

    def _fresh(self) -> dict:
        return {
            "state": {},
            "n_since_fire": 0,
            "seq": 0,
            "first_ms": self.now_ms,
            "last_ms": self.now_ms,
            "quiet_fired": False,
        }

    def _fire(self, wkey: str, st: dict, reason: str, final: bool) -> None:
        """Emit one pane row — the only place an output row is built."""
        ws, we = map(int, wkey.split(":"))
        rec = dict(self.key_vals)
        rec["window_start"] = pd.Timestamp(ws, unit="ms")
        rec["window_end"] = pd.Timestamp(we, unit="ms")
        rec.update(_finalize(st["state"], self.plan.aggs))
        rec["pane_seq"] = st["seq"]
        rec["fire_reason"] = reason
        rec["is_final"] = final
        self.rows.append(rec)
        st["seq"] += 1
        st["n_since_fire"] = 0
        if self.plan.discarding:
            st["state"] = {}

    def ingest(self, pdf: pd.DataFrame) -> None:
        """Assign a chunk's rows to windows by event time and fold them in,
        keeping the chunk's row order within each window."""
        p = self.plan
        ts_ms = (pdf[p.ts_col].astype("int64") // 1_000_000).to_numpy()
        if p.is_session:
            self._ingest_session(pdf, ts_ms)
            return
        for ws_val, rows in pdf.groupby((ts_ms // p.win_ms) * p.win_ms):
            ws = int(ws_val)
            self._ingest_window(f"{ws}:{ws + p.win_ms}", rows)

    def _ingest_window(self, wkey: str, rows: pd.DataFrame) -> None:
        """Fold ``rows`` into one window, cut at count-trigger boundaries so
        a count pane fires at exactly the n-th message."""
        p = self.plan
        st = self.windows.get(wkey)
        if st is None:
            st = self.windows[wkey] = self._fresh()
        st["quiet_fired"] = False  # new data re-arms time triggers
        st["last_ms"] = self.now_ms
        lo, total = 0, len(rows)
        while lo < total:
            hi = total
            if p.count_n is not None:
                hi = min(total, lo + max(1, p.count_n - st["n_since_fire"]))
            part = rows if hi - lo == total else rows.iloc[lo:hi]
            _merge_partial(st["state"], _pane_agg(part, p.aggs), p.aggs)
            st["n_since_fire"] += hi - lo
            if p.count_n is not None and st["n_since_fire"] >= p.count_n:
                self._fire(wkey, st, p.count_reason, False)
            lo = hi

    def _ingest_session(self, pdf: pd.DataFrame, ts_ms: np.ndarray) -> None:
        """Sessions: split the chunk, sorted by event time, at >gap breaks,
        then merge each run with every overlapping open session — Samza's
        session coalescing (WindowOperatorImpl session merge) carried as
        dynamic (start, last_event + gap) keys."""
        gap = self.plan.gap_ms
        order = ts_ms.argsort(kind="mergesort")
        sorted_ts = ts_ms[order]
        cuts = [0, *(np.flatnonzero(np.diff(sorted_ts) > gap) + 1), len(sorted_ts)]
        for b0, b1 in zip(cuts, cuts[1:]):
            s, e = int(sorted_ts[b0]), int(sorted_ts[b1 - 1]) + gap
            lo, hi = s, e
            merged = self._fresh()
            for wkey in list(self.windows):
                ws, we = map(int, wkey.split(":"))
                if s <= we and ws <= e:
                    old = self.windows.pop(wkey)
                    if old["state"]:
                        _merge_partial(merged["state"], old["state"], self.plan.aggs)
                    merged["n_since_fire"] += old["n_since_fire"]
                    merged["seq"] = max(merged["seq"], old["seq"])
                    merged["first_ms"] = min(merged["first_ms"], old["first_ms"])
                    lo, hi = min(lo, ws), max(hi, we)
            self.windows[f"{lo}:{hi}"] = merged
            self._ingest_window(f"{lo}:{hi}", pdf.iloc[order[b0:b1]])

    def sweep(self) -> None:
        """Processing-time triggers and window close at ``now_ms``.

        Windows ingested in this invocation have last_ms == now_ms, so fresh
        sessions never close early and timeSinceLastMessage never fires
        spuriously."""
        p, now = self.plan, self.now_ms
        for wkey, st in list(self.windows.items()):
            # sessions close one gap after the LAST event (arrival-clock
            # proxy for the gap timer); fixed windows after their span
            closing = (
                now - st["last_ms"] >= p.gap_ms
                if p.is_session
                else now - st["first_ms"] >= p.close_after_ms
            )
            if closing:
                if st["state"]:
                    self._fire(wkey, st, "window_close", True)
                del self.windows[wkey]
            elif (
                st["state"]
                and not st.get("quiet_fired")
                and (
                    any(now - st["first_ms"] >= d for d in p.since_first)
                    or any(now - st["last_ms"] >= d for d in p.since_last)
                )
            ):
                # one fire per quiet period (Samza re-evaluates
                # timeSinceLastMessage only as messages arrive; repeat
                # semantics need Triggers.repeat)
                self._fire(wkey, st, "time_trigger", False)
                st["quiet_fired"] = True

    def close_all(self) -> None:
        """End of input: every window with pane state fires its final pane."""
        for wkey, st in self.windows.items():
            if st["state"]:
                self._fire(wkey, st, "window_close", True)
        self.windows.clear()

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(self.rows, columns=self.plan.cols)


# ---------------------------------------------------------------------------
# Batch replay (applyInPandas) and stream (applyInPandasWithState).
# ---------------------------------------------------------------------------


def triggered_window_batch(
    df: DataFrame,
    spec: WindowSpec,
    aggs: Sequence[AggSpec],
) -> DataFrame:
    """Replay-mode pane computation: what the trigger machinery emits given
    each key's rows in event-time order, followed by the close of every
    window. Used for BATCH ApplicationMode parity
    (ApplicationConfig.java:44-46) and as the deterministic reference for
    the streaming operator's tests."""
    plan = _PanePlan(df, spec, aggs)

    def replay(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        kernel = _PaneKernel(plan, key, {}, now_ms=0)
        kernel.ingest(pdf.sort_values(plan.ts_col, kind="mergesort"))
        kernel.close_all()
        return kernel.frame()

    keys = [F.col(k) for k in plan.key_cols] or [F.lit(1).alias("__g")]
    return df.groupBy(*keys).applyInPandas(replay, plan.out_ddl)


def triggered_window_stream(
    df: DataFrame,
    spec: WindowSpec,
    aggs: Sequence[AggSpec],
) -> DataFrame:
    """Streaming pane computation with per-key state.

    Each invocation loads the key's open windows from Spark's state store
    (Samza's TimeSeriesStore ``(key, windowStart)`` composite key,
    TimeSeriesStoreImpl.java:79), ingests every Arrow chunk in arrival
    order, sweeps the processing-time triggers and stores the windows
    back. Count triggers are exact per message: a ``count(n)`` pane holds
    exactly the n messages since the previous fire, even when they span
    micro-batches or one chunk holds several of them, so the pane stream
    equals ``triggered_window_batch`` over the same rows in the same order.
    Time-based triggers use ProcessingTimeTimeout, matching Samza's
    injected-Clock processing-time trigger evaluation.

    SESSION windows keep dynamic ``(start, last_event+gap)`` state keys;
    incoming chunks are split at >gap breaks and coalesced with every
    overlapping open session (Samza's session merge), and the gap timer
    closes a session one gap after its last event."""
    plan = _PanePlan(df, spec, aggs)
    next_due = min([plan.close_after_ms, *plan.since_first, *plan.since_last])

    def fn(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        windows = json.loads(state.get[0]) if state.exists else {}
        kernel = _PaneKernel(plan, key, windows, int(time.time() * 1000))
        for pdf in pdf_iter:
            if not pdf.empty:
                kernel.ingest(pdf)
        # The sweep runs on EVERY invocation, not only on timeout: each data
        # batch resets the timeout clock, so under sustained per-key traffic
        # a timeout-only sweep would never fire window_close and expired
        # windows would pile up in state forever.
        kernel.sweep()
        if windows:
            state.update((json.dumps(windows),))
            state.setTimeoutDuration(next_due)
        elif state.exists:
            state.remove()
        yield kernel.frame()

    return (
        df.groupBy(*[F.col(k) for k in plan.key_cols])
        .applyInPandasWithState(
            fn, plan.out_ddl, "payload string", "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def await_condition(query, condition, timeout_s: float = 60.0, poll_s: float = 0.25) -> bool:
    """Wait until ``condition()`` is truthy or ``timeout_s`` elapses.

    Required instead of ``StreamingQuery.processAllAvailable`` for queries
    containing this operator: with ``ProcessingTimeTimeout`` configured,
    Spark's FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true
    (timer-evaluation batches are scheduled indefinitely), so the engine
    never signals ``noNewData`` and processAllAvailable blocks forever.
    Returns True if the condition was met; raises if the query failed."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise query.exception()
        if condition():
            return True
        time.sleep(poll_s)
    return bool(condition())


def triggered_window(df: DataFrame, spec: WindowSpec, agg_cols) -> DataFrame:
    """Entry point used by MessageStream.window for trigger/DISCARDING specs.

    ``agg_cols`` may be AggSpec objects; Column aggregates are not accepted
    on the stateful path (Samza's trigger path only folds —
    WindowOperatorImpl's FoldLeftFunctions).
    """
    aggs = [a for a in agg_cols if isinstance(a, AggSpec)]
    if not aggs:
        aggs = [AggSpec("count", "count")]
    if df.isStreaming:
        return triggered_window_stream(df, spec, aggs)
    return triggered_window_batch(df, spec, aggs)
