"""Custom stateful streaming operators — ``applyInPandasWithState`` and
its Spark 4 typed-state successor ``transformWithStateInPandas``
(SURVEY §2.9: absent from the reference; this is the escape hatch for
semantics Spark's built-in stateful operators can't express). Each
operator ships both API generations sharing ONE pandas kernel
(:func:`_gaps_emit` / :func:`_transitions_emit`), so the legacy entry is
a bit-exact parity witness for the TWS twin.

Design rule for oracle-checkable custom state: emit MONOTONIC per-key
values. Each micro-batch emits the key's running value; because the value
only grows, ``max`` over all emissions equals the final state no matter
how the input was split into batches — which makes a bounded streaming
replay exactly comparable to a batch aggregate, without needing "last
emission" semantics the memory sink can't provide.

Scale: state is one struct per key in the state store (RocksDB-ready);
the Python worker sees Arrow batches per key group — no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _count_per_key(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    (cnt,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        cnt += len(pdf)
    state.update((cnt,))
    yield pd.DataFrame({"user_id": [key[0]], "n_errors": [cnt]})


def stateful_event_counts(
    stream: DataFrame,
    key_col: str = "user_id",
    where: str = "event_type = 'error'",
) -> DataFrame:
    """Running per-key event counts with explicit cross-batch state.

    Emits (key, running_count) every micro-batch the key appears in;
    the running count is monotonic, so max-over-emissions = final count.
    """
    return (
        stream.where(where)
        .groupBy(key_col)
        .applyInPandasWithState(
            _count_per_key,
            outputStructType="user_id long, n_errors long",
            stateStructType="cnt long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def final_counts(emissions: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Collapse the emission log to the final per-key state (valid because
    emissions are monotonic)."""
    return emissions.groupBy(key_col).agg(F.max("n_errors").alias("n_errors"))


def tws_event_counts(
    stream: DataFrame,
    key_col: str = "user_id",
    where: str = "event_type = 'error'",
) -> DataFrame:
    """Running per-key counts on the ``transformWithStateInPandas`` API —
    the Spark 4 successor to applyInPandasWithState: typed state variables
    (ValueState/ListState/MapState), timers, TTL, and composite state per
    key instead of one opaque tuple. Same monotonic-emission contract as
    :func:`stateful_event_counts`, so the same max-over-emissions oracle
    applies.

    Requires the RocksDB state-store provider (the API is built on its
    column families) — callers set
    ``spark.sql.streaming.stateStore.providerClass`` before starting the
    query; that is the 100 TB configuration anyway (SURVEY §4.2).

    ENVIRONMENT NOTE: the transformWithState worker imports
    ``google.protobuf``; containers without a protobuf wheel get it from
    ``_compat.ensure_protobuf`` (pure-python runtime discovered on the
    machine, PYTHONPATH extended before session start — build_session does
    this). On a session that started BEFORE our code ran (the correctness
    driver's plain session), ``_compat.ensure_protobuf_for_session`` ships
    the shim to workers through ``sc.environment`` instead — the registry
    entries (queries/streaming.py::_run_tws) go through it, which is what
    makes the ``*_tws`` names driver-checkable. The parity test
    (tests/test_streaming.py::test_tws_event_counts_parity) runs wherever
    a runtime is found and only skips when none exists.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._cnt = handle.getValueState("cnt", "cnt long")

        def handleInputRows(self, key, rows, timerValues):
            cnt = self._cnt.get()[0] if self._cnt.exists() else 0
            for pdf in rows:
                cnt += len(pdf)
            self._cnt.update((cnt,))
            yield pd.DataFrame({key_col: [key[0]], "n_errors": [cnt]})

        def close(self) -> None:
            pass

    return (
        stream.where(where)
        .groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=_RunningCount(),
            outputStructType=f"{key_col} long, n_errors long",
            outputMode="Update",
            timeMode="None",
        )
    )


def _check_ordered_arrival(saved: tuple, first: tuple, key) -> None:
    """Guard the cross-batch ordering precondition (ADVICE r6): the
    stateful extractors are only correct when each key's events arrive
    event-time-ordered ACROSS micro-batches. A batch whose first
    (ts_us, event_id) precedes the saved state tuple would silently form
    a wrong gap/transition — fail loudly instead; out-of-order sources
    belong on the batch twin (or need watermarked reordering upstream)."""
    if first < saved:
        raise ValueError(
            f"out-of-order cross-batch arrival for key {key}: batch starts at "
            f"{first} but state already saw {saved}; this stateful operator "
            "requires per-key event-time-ordered arrival across micro-batches"
        )


def _ordered_concat(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """Concatenate a key group's Arrow batches and sort by (ts, event_id)
    — the batch oracle's window order — with the timestamp normalized to
    int64 microseconds (UTC session: drop tz, keep the instant)."""
    pdf = pd.concat(list(pdfs), ignore_index=True)
    ts = pdf["ts"]
    if getattr(ts.dtype, "tz", None) is not None:
        ts = ts.dt.tz_localize(None)
    return pdf.assign(
        _ts_us=ts.astype("datetime64[us]").astype("int64")
    ).sort_values(["_ts_us", "event_id"], ignore_index=True)


def _gaps_emit(pdf: pd.DataFrame, prev: tuple | None, key):
    """Shared gap kernel for both stateful APIs: the (sorted) batch's
    inter-arrival gaps, with the first gap formed against the carried
    ``prev = (ts_us, event_id)`` sighting. Returns (emission frame,
    new state tuple or None when the batch was empty)."""
    us = pdf["_ts_us"].to_numpy()
    gaps = pd.Series(us).diff()
    if prev is not None and len(us):
        _check_ordered_arrival(
            prev, (int(us[0]), int(pdf["event_id"].iloc[0])), key
        )
        gaps.iloc[0] = us[0] - prev[0]
    new_state = (
        (int(us[-1]), int(pdf["event_id"].iloc[-1])) if len(us) else None
    )
    out = pd.DataFrame(
        {"event_type": key[1], "gap_us": gaps.dropna().astype("int64")}
    )
    return out, new_state


def _gaps_per_key(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-(user, type) inter-arrival gaps with the previous sighting
    carried across micro-batches.

    Within a batch the group is sorted by (ts, event_id) — the same total
    order as the batch oracle's window — and the state tuple holds the
    last (ts_us, event_id) so the first event of batch N+1 forms its gap
    against the last event of batch N. Each event's gap is emitted exactly
    once, so the emission log is append-safe under any batching, PROVIDED
    per-key arrival is event-time-ordered across batches (true for a
    time-ordered replay/log; out-of-order arrival needs the batch twin).
    """
    pdf = _ordered_concat(pdfs)
    prev = (state.get[0], state.get[1]) if state.exists else None
    out, new_state = _gaps_emit(pdf, prev, key)
    if new_state is not None:
        state.update(new_state)
    yield out


def stateful_interarrival_gaps(stream) -> DataFrame:
    """Inter-arrival gap extraction as a custom stateful operator: one
    (ts, event_id) tuple of state per (user_id, event_type) key — O(keys)
    state, RocksDB-ready; the Python worker sees Arrow batches per key
    group. The batch twin is the lag() window in
    queries/analytics.py::q_interarrival_stats."""
    return stream.select(
        "user_id", "event_type", "ts", "event_id"
    ).groupBy("user_id", "event_type").applyInPandasWithState(
        _gaps_per_key,
        outputStructType="event_type string, gap_us long",
        stateStructType="ts_us long, event_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _transitions_emit(pdf: pd.DataFrame, prev: tuple | None, key):
    """Shared transition kernel for both stateful APIs: the (sorted)
    batch's consecutive event-type pairs, with the first pair formed
    against the carried ``prev = (ts_us, event_id, last_type)`` sighting.
    Returns (emission frame, new state tuple or None)."""
    types = pdf["event_type"].tolist()
    froms = types[:-1]
    tos = types[1:]
    if prev is not None and types:
        _check_ordered_arrival(
            (prev[0], prev[1]),
            (int(pdf["_ts_us"].iloc[0]), int(pdf["event_id"].iloc[0])),
            key,
        )
        froms = [prev[2]] + types[:-1]
        tos = types
    new_state = (
        (
            int(pdf["_ts_us"].iloc[-1]),
            int(pdf["event_id"].iloc[-1]),
            str(types[-1]),
        )
        if types
        else None
    )
    return pd.DataFrame({"from_type": froms, "to_type": tos}), new_state


def _transitions_per_key(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-user event-type transitions with the previous sighting carried
    across micro-batches.

    Within a batch the group sorts by (ts, event_id) — the batch twin's
    lead() order — and the state tuple holds the last (ts_us, event_id,
    event_type) so the first event of batch N+1 forms its transition
    against the last event of batch N. Each transition is emitted exactly
    once, so the emission log is append-safe under any batching, PROVIDED
    per-key arrival is event-time-ordered across batches (time-ordered
    replay/log; out-of-order arrival needs the batch twin)."""
    pdf = _ordered_concat(pdfs)
    prev = (state.get[0], state.get[1], state.get[2]) if state.exists else None
    out, new_state = _transitions_emit(pdf, prev, key)
    if new_state is not None:
        state.update(new_state)
    yield out


def stateful_transitions(stream) -> DataFrame:
    """Event-type transition extraction as a custom stateful operator:
    one (ts, event_id, type) struct of state per user — O(keys) state,
    RocksDB-ready. The batch twin is the lead() window in
    queries/analytics.py::q_event_transition_matrix."""
    return stream.select(
        "user_id", "event_type", "ts", "event_id"
    ).groupBy("user_id").applyInPandasWithState(
        _transitions_per_key,
        outputStructType="from_type string, to_type string",
        stateStructType="ts_us long, event_id long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_interarrival_gaps(stream) -> DataFrame:
    """:func:`stateful_interarrival_gaps` on the
    ``transformWithStateInPandas`` API (Spark 4's typed-state successor —
    ValueState instead of one opaque tuple; same RocksDB column-family
    store the 100 TB config runs anyway). Shares the exact pandas kernel
    (:func:`_gaps_emit`), so the append-mode emission log and therefore
    the batch oracle are identical to the legacy twin's.

    Requires the RocksDB state-store provider and an importable
    ``google.protobuf`` in the WORKERS — callers go through
    ``queries/streaming.py::_run_tws``, which provisions both on any
    session (including the correctness driver's plain one) via
    ``_compat.ensure_protobuf_for_session``."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Gaps(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState(
                "last", "ts_us long, event_id long"
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = _ordered_concat(rows)
            prev = tuple(self._last.get()) if self._last.exists() else None
            out, new_state = _gaps_emit(pdf, prev, key)
            if new_state is not None:
                self._last.update(new_state)
            yield out

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id", "event_type")
        .transformWithStateInPandas(
            statefulProcessor=_Gaps(),
            outputStructType="event_type string, gap_us long",
            outputMode="Append",
            timeMode="None",
        )
    )


def tws_interarrival_gaps_mapstate(stream) -> DataFrame:
    """:func:`tws_interarrival_gaps` re-keyed for fewer Python crossings:
    ONE group per user with a typed **MapState** ``event_type →
    (ts_us, event_id)`` holding each type's last sighting — the feature
    ValueState can't express (per-subkey composite state under one
    grouping key). Emissions are identical to the (user, type)-keyed
    variants — the shared :func:`_gaps_emit` kernel runs per type inside
    the group — but the stream crosses the Arrow boundary once per USER
    instead of once per (user, type): ~|types|× fewer group round-trips,
    which is the Python-stateful operator's dominant cost at high key
    cardinality. Runtime requirements as :func:`tws_interarrival_gaps`."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _GapsByTypeMap(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getMapState(
                "last", "event_type string", "ts_us long, event_id long"
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = _ordered_concat(rows)
            outs = []
            for etype, g in pdf.groupby("event_type", sort=False):
                prev = self._last.getValue((etype,))
                out, new_state = _gaps_emit(
                    g, tuple(prev) if prev is not None else None,
                    (key[0], etype),
                )
                if new_state is not None:
                    self._last.updateValue((etype,), new_state)
                outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)
            else:  # key group with no rows this batch
                yield pd.DataFrame(
                    {
                        "event_type": pd.Series([], dtype=object),
                        "gap_us": pd.Series([], dtype="int64"),
                    }
                )

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_GapsByTypeMap(),
            outputStructType="event_type string, gap_us long",
            outputMode="Append",
            timeMode="None",
        )
    )


def tws_transitions(stream) -> DataFrame:
    """:func:`stateful_transitions` on the ``transformWithStateInPandas``
    API; shares :func:`_transitions_emit`, so emissions (and the batch
    oracle) are identical to the legacy twin's. Runtime requirements as
    :func:`tws_interarrival_gaps`."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Transitions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState(
                "last", "ts_us long, event_id long, last_type string"
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = _ordered_concat(rows)
            prev = tuple(self._last.get()) if self._last.exists() else None
            out, new_state = _transitions_emit(pdf, prev, key)
            if new_state is not None:
                self._last.update(new_state)
            yield out

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Transitions(),
            outputStructType="from_type string, to_type string",
            outputMode="Append",
            timeMode="None",
        )
    )


# --- event-time timers: session timeout emission (round 9) -------------------

#: Session inactivity gap shared with the batch session oracle (4 hours).
SESSION_GAP_US = 4 * 3600 * 1_000_000
SESSION_GAP_MS = SESSION_GAP_US // 1000


def _session_fold(
    ts_us: list[int], units: list[int], state: tuple | None
) -> tuple[list[tuple], tuple | None]:
    """Pure session kernel for one key's (pre-sorted) micro-batch events.

    ``state`` is the open session ``(start_us, last_us, n, units)`` or
    None. Returns ``(closed, new_state)``: sessions closed AT INPUT TIME
    (a successor arrived beyond the gap — cannot wait for the timer,
    which may still be ahead of the watermark) and the still-open
    session. Value sums are kept in integer micro-units (exact at scale
    6) so the decimal-sum batch oracle applies bitwise.
    """
    closed: list[tuple] = []
    cur = state
    for t, u in zip(ts_us, units):
        if cur is None:
            cur = (t, t, 1, u)
        elif t - cur[1] >= SESSION_GAP_US:
            closed.append(cur)
            cur = (t, t, 1, u)
        else:
            cur = (cur[0], t, cur[2] + 1, cur[3] + u)
    return closed, cur


def _session_frame(key_val: int, sessions: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.Series([key_val] * len(sessions), dtype="int64"),
            "start_us": pd.Series([s[0] for s in sessions], dtype="int64"),
            "end_us": pd.Series(
                [s[1] + SESSION_GAP_US for s in sessions], dtype="int64"
            ),
            "n_events": pd.Series([s[2] for s in sessions], dtype="int64"),
            "sum_units": pd.Series([s[3] for s in sessions], dtype="int64"),
        }
    )


def tws_session_timers(stream: DataFrame) -> DataFrame:
    """Per-user session windows via REGISTERED EVENT-TIME TIMERS — the
    timer half of the transformWithState surface (timeMode="EventTime"),
    which the built-in ``session_window`` aggregation hides and the r8
    twins (timeMode="None") never exercised.

    Two emission paths, both required for correctness:

    * **input-time close**: a successor event ≥ gap after the open
      session's last event proves the session over — emit immediately
      (its timer may still be ahead of the watermark, so waiting on it
      would buffer arbitrarily);
    * **timer close**: sessions with NO successor only ever close when
      the watermark passes ``last + gap`` — each input re-registers the
      key's single timer at that expiry (deleting the previous one), and
      ``handleExpiredTimer`` emits the open session and clears state.

    Empirical contract (pinned by tests/test_streaming_stateful.py): under
    ``trigger(availableNow=True)`` Spark runs a drain micro-batch after
    the last file, firing every timer ≤ the final watermark — so a
    bounded replay whose tape ends with a watermark-advancing sentinel
    row (ts ≥ max real ts + gap + delay) emits exactly the batch session
    set; the sentinel's own session is the one timer past the watermark
    and self-excludes. TTL (``ttlDurationMs``) remains ProcessingTime-
    only (ILLEGAL under EventTime — probed empirically, see
    tests/test_streaming_round8.py's TTL contract) and cannot be driven
    deterministically on a bounded tape; event-time timer eviction IS
    this harness's deterministic face of state expiry.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _SessionTimers(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._sess = handle.getValueState(
                "sess", "start_us long, last_us long, n long, units long"
            )
            self._h = handle

        def handleInputRows(self, key, rows, timerValues):
            pdf = _ordered_concat(rows)
            # exact micro-units: floor(v*1e6 + 0.5); int64 cast truncates
            # toward zero ≡ floor for the non-negative event values
            units = (pdf["value"] * 1_000_000.0 + 0.5).astype("int64")
            state = (
                tuple(self._sess.get()) if self._sess.exists() else None
            )
            prev_timer = (
                state[1] // 1000 + SESSION_GAP_MS if state is not None else None
            )
            closed, cur = _session_fold(
                pdf["_ts_us"].tolist(), units.tolist(), state
            )
            self._sess.update(cur)
            new_timer = cur[1] // 1000 + SESSION_GAP_MS
            if prev_timer is not None and prev_timer != new_timer:
                self._h.deleteTimer(prev_timer)
            self._h.registerTimer(new_timer)
            yield _session_frame(key[0], closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # key arrives as a Row here (tuple in handleInputRows)
            state = (
                tuple(self._sess.get()) if self._sess.exists() else None
            )
            if state is None:
                return
            expected = state[1] // 1000 + SESSION_GAP_MS
            if expiredTimerInfo.getExpiryTimeInMs() != expected:
                return  # stale timer raced a deleteTimer — state is newer
            self._sess.clear()
            yield _session_frame(key[0], [state])

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_SessionTimers(),
            outputStructType=(
                "user_id long, start_us long, end_us long, "
                "n_events long, sum_units long"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )
