"""Streaming operators (SURVEY.md §2.7 T1/T4/T5/T6, §2.5 J9).

Each returns a streaming DataFrame; drive with
``runner.run_available_now``. Window/dedup semantics are the shared
``gostream_spark.operators`` expressions, so the batch oracles certify
them; what's added here is the streaming-only machinery: watermarks
(T4 — bound state and drop late rows), stream-static joins, and
arbitrary per-key state via applyInPandasWithState (T6 — the
reference's stateful bolt).

Every stateful op is an ``applyInPandasWithState`` fold. Spark 4's
newer ``transformWithStateInPandas`` (timers, TTL, composite state) is
the intended upgrade, but its Python driver worker requires
``google.protobuf``, which this environment lacks (it fails with
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE; ``import
google.protobuf`` still raised ModuleNotFoundError on 2026-10-22). On
an image with protobuf, a fold's body can become a StatefulProcessor
with the same state schema; the operator contract is unchanged.

The folds share one layer: an order-sensitive fold reads its group
through ``_ordered_group``, every emitted time string comes from
``_fmt_us``, and the duration-capped session rule is
``_capped_session_walk``, which the stream op and the batch
``session_window_capped`` both run.
"""

from __future__ import annotations

import datetime
import json
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gostream_spark.operators import tumbling_windowed
from gostream_spark.parity import TS_FMT_DUCK


def windowed_counts(
    events: DataFrame, duration: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """T1+T4: watermarked tumbling-window counts per event type. The
    watermark bounds window state: buckets older than
    max(event_time) - watermark are finalized and evicted — without it
    a 100 TB/day stream would hold every bucket forever."""
    with_wm = events.withWatermark("ts", watermark)
    return tumbling_windowed(
        with_wm,
        "ts",
        duration,
        keys=("event_type",),
        aggs=(F.count(F.lit(1)).alias("event_cnt"),),
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
    unbounded_state: bool = False,
) -> DataFrame:
    """T5: streaming dedup — keeps the first arrival per key.

    STATE GUARD (measured r11, API-enforced r12): with
    ``dropDuplicates(keys)`` Spark only expires dedup state when an
    EVENT-TIME column is among the keys — with pure id keys the
    seen-key state grows monotonically with distinct keys forever.
    The decade probe measured exactly that: state rows 100k → 2M
    across a 20-shard replay, never evicted, while the watermark here
    only gates LATE input rows. Because that failure mode is silent
    until an executor OOMs weeks into a production run, this helper
    REFUSES the unbounded form unless the caller passes
    ``unbounded_state=True`` (correct when the key space itself is
    bounded, e.g. replay-window dedup over a keyed retention set).
    For watermark-BOUNDED state instead: include ``ts_col`` in
    ``keys`` (exact-duplicate semantics — state rows evict with the
    watermark), or use ``dropDuplicatesWithinWatermark`` (the
    registered ``streaming_dedup_within_watermark`` twin; measured
    plateau ~100k vs the plain form's 1M-and-climbing on the same
    replay) when duplicates arrive within a bounded horizon."""
    if ts_col not in keys and not unbounded_state:
        raise ValueError(
            f"dedup_stream(keys={keys!r}) without the event-time column "
            f"{ts_col!r} among the keys accumulates seen-key state "
            "FOREVER (watermark evicts nothing; measured 1M-rows-"
            "monotone on the decade replay). Either add the event-time "
            "column to keys, use dropDuplicatesWithinWatermark for "
            "bounded-horizon duplicates, or pass unbounded_state=True "
            "to assert the key space itself is bounded."
        )
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys)


def enrich_stream(events: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """J9: stream-static join — the static dim is broadcast to every
    micro-batch (stateless; no join state accumulates)."""
    return events.join(F.broadcast(dim), on, how)


# --- the fold layer: event order, time unit, time string -----------------

_EPOCH = datetime.datetime(1970, 1, 1)


def _ordered_group(pdfs: Iterable[pd.DataFrame], *cols: str) -> list[list]:
    """One group's rows in event order. A group larger than
    ``arrow.maxRecordsPerBatch`` arrives as several Arrow chunks in
    arbitrary shuffle order, so an order-sensitive fold gathers every
    chunk and sorts ONCE by ``(ts, event_id)`` (group-at-a-time memory
    is already the per-key state model's assumption). Returns the
    event times as integer microseconds, whatever unit Arrow delivered
    them in, then each of ``cols`` as a list. A group with no rows (a
    timeout call) gives empty lists."""
    chunks = list(pdfs)
    if not chunks:
        return [[] for _ in range(1 + len(cols))]
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
    return [us, *(pdf[c].tolist() for c in cols)]


def _fmt_us(us: int) -> str:
    """The oracle's timestamp string (``parity.TS_FMT_DUCK``) of an
    integer-microsecond UTC time; exact integer math, no float."""
    return (_EPOCH + datetime.timedelta(microseconds=us)).strftime(TS_FMT_DUCK)


# --- T6: per-key running counts ----------------------------------------

_COUNT_STATE_SCHEMA = "cnt long"


def _running_count(pdfs: Iterable[pd.DataFrame], state: GroupState) -> int:
    """Add the group's rows to the key's stored count; store and return it."""
    (cnt,) = state.get if state.exists else (0,)
    cnt += sum(len(pdf) for pdf in pdfs)
    state.update((cnt,))
    return cnt


def _count_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [_running_count(pdfs, state)]})


def running_count_stateful(events: DataFrame) -> DataFrame:
    """T6: arbitrary per-key state — a running event count per user
    via ``applyInPandasWithState`` (the stateful bolt: user code, Arrow
    batches in, explicit state handle with optional timeouts). Emits
    the updated count for each key touched in each micro-batch; state
    lives in the executor-local state store keyed by user."""
    return events.groupBy("user_id").applyInPandasWithState(
        _count_fn,
        outputStructType="user_id long, n_events long",
        stateStructType=_COUNT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _distinct_types_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # Set-valued state serialized as a sorted comma-joined string —
    # fixed schema, explicit growth (bounded by the event-type
    # vocabulary, not the event count).
    seen = set(state.get[0].split(",")) - {""} if state.exists else set()
    for pdf in pdfs:
        seen.update(pdf["event_type"].tolist())
    state.update((",".join(sorted(seen)),))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_distinct_types": [len(seen)]}
    )


def distinct_types_stateful(events: DataFrame) -> DataFrame:
    """T6 second shape: SET-valued per-key state (which event types
    has each user produced) via ``applyInPandasWithState`` — the
    dedup-within-key bolt. State size is bounded by the type
    vocabulary; the update-mode emission per micro-batch carries the
    running distinct count."""
    return events.groupBy("user_id").applyInPandasWithState(
        _distinct_types_fn,
        outputStructType="user_id long, n_distinct_types long",
        stateStructType="seen string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _ewma_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    ewma, n = state.get if state.exists else (0.0, 0)
    _, values = _ordered_group(pdfs, "value")
    for v in values:
        ewma = v if n == 0 else 0.5 * v + 0.5 * ewma
        n += 1
    state.update((ewma, n))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma": [ewma]})


def ewma_stateful(events: DataFrame) -> DataFrame:
    """T6 third shape: NUMERIC recurrence state — a per-user running
    EWMA (half-decay) folded event by event inside
    ``applyInPandasWithState``. Unlike the count/set states, the value
    depends on fold ORDER, so the update reads its group in event
    order (``_ordered_group``); every operation is an exact IEEE
    scaling (x0.5), so the result is bit-reproducible against any
    engine running the same fold."""
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType="user_id long, n_events long, ewma double",
        stateStructType="ewma double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _transition_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_type = state.get[0] if state.exists and state.get[0] else None
    pairs: dict[tuple, int] = {}
    _, types = _ordered_group(pdfs, "event_type")
    for t in types:
        if last_type is not None:
            pairs[(last_type, t)] = pairs.get((last_type, t), 0) + 1
        last_type = t
    state.update((last_type if last_type is not None else "",))
    if pairs:
        ks = sorted(pairs)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(ks),
                "prev_type": [p for p, _ in ks],
                "next_type": [n for _, n in ks],
                "n": [pairs[k] for k in ks],
            }
        )


def transition_counts_stateful(events: DataFrame) -> DataFrame:
    """T6 fourth shape: state that EMITS DERIVED EVENTS — the per-user
    last-event-type carries across micro-batches, and each batch emits
    the (prev → next) transition pairs it completes, including the
    pair that straddles the batch boundary (the case per-batch lag()
    cannot see). Downstream sums the partial counts; the batch oracle
    is the global lag()-derived transition matrix."""
    return events.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType="user_id long, prev_type string, next_type string, n long",
        stateStructType="last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _make_session_timeout_fn(timeout_ms: int):
    def _session_timeout_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (cnt,) = state.get
            state.remove()  # eviction: no re-arm, state is gone
            closed = "timeout"
        else:
            cnt = _running_count(pdfs, state)
            # Activity re-arms the idle timer; the key is closed only
            # after timeout_ms of silence.
            state.setTimeoutDuration(timeout_ms)
            closed = "open"
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "closed": [closed]}
        )

    return _session_timeout_fn


def session_timeout_stateful(events: DataFrame, timeout_ms: int = 500) -> DataFrame:
    """T6 with TIMERS: per-key counts whose state is CLOSED by a
    processing-time timeout — the idle-session eviction pattern
    (Storm's tick-driven state expiry). A key idle for ``timeout_ms``
    of processing time gets the timed-out callback: it emits a final
    'timeout' record and removes its state, which is how unbounded
    keyspaces stay bounded without watermark-eligible event time.

    MUST be driven by a processing-time trigger
    (``runner.run_until``), NOT ``availableNow``: under
    ProcessingTimeTimeout, FlatMapGroupsWithStateExec reports
    ``shouldRunAnotherBatch=True`` unconditionally (it cannot prove no
    timer will fire), so an availableNow run never reaches its stop
    condition and livelocks on no-data micro-batches. Timer-evicted
    pipelines are open-ended by construction; bound them by observed
    output, not input exhaustion."""
    return events.groupBy("user_id").applyInPandasWithState(
        _make_session_timeout_fn(timeout_ms),
        outputStructType="user_id long, n_events long, closed string",
        stateStructType=_COUNT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


_CW_N = 5


def _count_window_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # Buffer = the <N pending events, serialized "ts_micro,cents"
    # pairs; win_no = completed windows so far.
    win_no, buf = (state.get if state.exists else (0, ""))
    pending = [p for p in buf.split(";") if p]
    for us, v in zip(*_ordered_group(pdfs, "value")):
        cents = 0 if pd.isna(v) else int(round(v * 100))
        pending.append(f"{us},{cents}")
    out = []
    while len(pending) >= _CW_N:
        window, pending = pending[:_CW_N], pending[_CW_N:]
        ts_list = [int(p.split(",")[0]) for p in window]
        cent_sum = sum(int(p.split(",")[1]) for p in window)
        out.append(
            {
                "user_id": key[0],
                "win_no": win_no,
                "n_events": _CW_N,
                "win_start": _fmt_us(ts_list[0]),
                "win_end": _fmt_us(ts_list[-1]),
                "sum_value": round(cent_sum / 100.0, 2),
            }
        )
        win_no += 1
    state.update((win_no, ";".join(pending)))
    if out:
        yield pd.DataFrame(out)


def count_window_stateful(events: DataFrame) -> DataFrame:
    """T6 fifth shape: COUNT-based (tuple) windows — the Storm-style
    'every N tuples per key' window Structured Streaming has no
    built-in for. Per-key state buffers the <N pending events and a
    window counter; each full window of 5 emits once with its span
    and exact cent-sum, the remainder rides in state. State is O(N)
    per key by construction — the buffer can never exceed N-1
    events. Emission order inside a batch is deterministic because
    rows are sorted (ts, event_id) before folding; the batch twin
    `count_window_stats` certifies the semantics via exact oracle."""
    return events.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _count_window_fn,
        outputStructType=(
            "user_id long, win_no long, n_events long, "
            "win_start string, win_end string, sum_value double"
        ),
        stateStructType="win_no long, buf string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T6 sixth shape: Space-Saving heavy-hitter sketch in state ----------

_SS_CAPACITY = 400  # >= 2/phi -> no false negatives at phi = 1/200
_SS_PHI_INV = 200


def _space_saving_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # Summary serialized as a JSON object {token: count}: JSON string
    # escaping is collision-proof for ARBITRARY token bytes (control
    # chars, quotes, non-ASCII), unlike any ad-hoc separator scheme —
    # a whitespace-split token may legally contain \x1e/\x1f.
    n, summary = state.get if state.exists else (0, "")
    counters: dict[str, int] = json.loads(summary) if summary else {}
    # No cross-chunk sort needed: Space-Saving's guarantees (no false
    # negatives above N/m, overestimate <= min-counter <= N/m) hold
    # for ANY arrival order — this fold is order-insensitive in its
    # contract, unlike the EWMA/transition folds above.
    for pdf in pdfs:
        # dropna: a null text row contributes no tokens (str.split on
        # NaN yields NaN, which would crash the inner iteration).
        for toks in pdf["text"].dropna().str.split(" "):
            for tok in toks:
                n += 1
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < _SS_CAPACITY:
                    counters[tok] = 1
                else:
                    # Evict the min counter (deterministic tie-break);
                    # the newcomer inherits its count + 1, preserving
                    # the overestimate invariant.
                    t_min = min(counters, key=lambda t: (counters[t], t))
                    c_min = counters.pop(t_min)
                    counters[tok] = c_min + 1
    state.update((n, json.dumps(counters, ensure_ascii=False)))
    thresh = -(-n // _SS_PHI_INV)  # ceil(n / 200)
    hh = sorted(
        (t, c) for t, c in counters.items() if c >= thresh
    )
    # ALWAYS emit a sentinel row (token NULL, est 0) so every
    # micro-batch's running n_tokens reaches the sink even when no
    # counter clears ceil(n/200) (near-uniform distributions with
    # n >> capacity leave every counter ~n/400 < threshold). Without
    # it the final summary for such a key would be empty or stale and
    # the downstream stream_total_ok verdict would flip to 0 on a
    # legal input. Tokens are str.split products (never NULL), so the
    # NULL token cannot collide with a candidate; est_cnt=0 passes the
    # overestimate bound vacuously (0 <= true_c + N/m).
    yield pd.DataFrame(
        {
            "source": [key[0]] * (len(hh) + 1),
            "token": [t for t, _ in hh] + [None],
            "est_cnt": [c for _, c in hh] + [0],
            "n_tokens": [n] * (len(hh) + 1),
        }
    )


def space_saving_stateful(docs: DataFrame) -> DataFrame:
    """T6 sixth shape: a SKETCH held in per-key state — Space-Saving
    (Metwally et al. 2005) heavy-hitter summaries per document source,
    the streaming twin of the batch two-pass
    ``queries.heavy_hitters.heavy_hitter_tokens``.

    State per key is a bounded m=400-counter summary plus the running
    token total — O(m) forever, however much text streams through,
    which is the whole point: continuous top-talker tracking over an
    unbounded stream with constant memory. Each micro-batch folds its
    documents' tokens into the summary and emits the key's current
    candidates at the phi = 0.5% threshold; with capacity m >= 2/phi
    the summary provably contains every true phi-heavy hitter
    (overestimates bounded by N/m), which the rows-only guarantee
    test asserts against exact batch counts."""
    return docs.select("source", "text").groupBy("source").applyInPandasWithState(
        _space_saving_fn,
        outputStructType="source string, token string, est_cnt long, n_tokens long",
        stateStructType="n_tokens long, summary string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T6 seventh shape: EVENT-time (watermark-driven) session close ------

_ET_GAP_MS = 30 * 60 * 1000


def _event_session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    def row(st: int, last: int, cnt: int) -> dict:
        return {
            "user_id": key[0],
            "session_start": _fmt_us(st * 1_000),
            "session_end": _fmt_us((last + _ET_GAP_MS) * 1_000),
            "event_cnt": cnt,
        }

    if state.hasTimedOut:
        st, last, cnt = state.get
        state.remove()  # watermark passed last+gap: the session closes
        yield pd.DataFrame([row(st, last, cnt)])
        return

    (us,) = _ordered_group(pdfs)
    st, last, cnt = state.get if state.exists else (None, None, 0)
    out = []
    for t in (u // 1_000 for u in us):
        if st is None:
            st, last, cnt = t, t, 1
        elif t - last >= _ET_GAP_MS:
            out.append(row(st, last, cnt))  # in-batch gap close
            st, last, cnt = t, t, 1
        else:
            last, cnt = t, cnt + 1
    state.update((st, last, cnt))
    # Arm the event-time timer: fire when the WATERMARK (not wall
    # clock) passes the session's inactivity horizon.
    state.setTimeoutTimestamp(last + _ET_GAP_MS)
    if out:
        yield pd.DataFrame(out)


def event_session_stateful(events: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """T6 seventh shape: EventTimeTimeout — sessions closed by the
    WATERMARK, completing the GroupStateTimeout matrix (NoTimeout /
    ProcessingTimeTimeout / EventTimeTimeout). Per-user state holds
    the open session (start, last, count); a gap inside a batch
    closes in-line, and the armed ``setTimeoutTimestamp(last + gap)``
    timer closes idle sessions when the watermark passes that
    horizon — deterministic replay-stable closure, unlike the
    wall-clock ProcessingTime variant. Under availableNow the final
    no-data micro-batch (watermark advanced to max event time) fires
    all timers whose horizon the watermark passed, so the emitted set
    equals the batch sessionization minus each user's still-open tail
    session — an exact, SQL-expressible contract."""
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _event_session_fn,
            outputStructType=(
                "user_id long, session_start string, session_end string, event_cnt long"
            ),
            stateStructType="start_ms long, last_ms long, cnt long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _lindley_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    bal, mx, clamps, n = state.get if state.exists else (0, 0, 0, 0)
    _, deltas = _ordered_group(pdfs, "delta")
    for d in deltas:
        nxt = bal + int(d)
        if nxt < 0:
            nxt, clamps = 0, clamps + 1
        bal = nxt
        mx = max(mx, bal)
        n += 1
    state.update((bal, mx, clamps, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "final_balance": [bal],
            "max_balance": [mx],
            "n_clamped": [clamps],
            "n_events": [n],
        }
    )


def lindley_stateful(events_with_delta: DataFrame) -> DataFrame:
    """T6 fifth shape: the floor-clamped running balance
    b_t = max(0, b_{t-1} + delta_t) folded LITERALLY in per-key state
    — the sequential recurrence the batch twin
    (``inventory_lindley_balance``) replaces with its closed-form
    window algebra. Input must carry (user_id, ts, event_id, delta);
    all arithmetic is exact Python ints over BIGINT cents, so the
    streaming fold and the batch closed form agree bit for bit — the
    two are oracle-checked against the SAME DuckDB SQL."""
    return events_with_delta.groupBy("user_id").applyInPandasWithState(
        _lindley_fn,
        outputStructType=(
            "user_id long, final_balance long, max_balance long, "
            "n_clamped long, n_events long"
        ),
        stateStructType="balance long, max_balance long, n_clamped long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T6 seventh shape: duration-capped sessions, batch and stream -------

_CS_GAP_US = 1_800 * 1_000_000  # 30 min inactivity gap
_CS_LEN_US = 7_200 * 1_000_000  # 2 h hard cap from the session's anchor
_CS_OUT_SCHEMA = (
    "user_id long, session_no long, n_events long, "
    "session_start string, session_end string"
)


def _capped_session_walk(
    us: Iterable[int], open_session: tuple | None = None
) -> tuple[list[tuple], tuple]:
    """The duration-capped session rule over event times ``us``
    (integer microseconds, in event order): an event starts a new
    session when its gap from the previous event exceeds 30 min, or
    its span from the session's anchor (first event) exceeds the 2 h
    cap. ``open_session`` is the session earlier events left open, as
    ``(anchor, prev, session_no, start, count)``. Returns the sessions
    the walk closed, as ``(session_no, count, start, end)``, and the
    session left open after it, in the ``open_session`` layout."""
    anchor, prev, sess_no, start, count = open_session or (None, None, 0, None, 0)
    closed = []
    for u in us:
        if anchor is None or u - prev > _CS_GAP_US or u - anchor > _CS_LEN_US:
            if anchor is not None:
                closed.append((sess_no, count, start, prev))
            anchor = start = u
            sess_no, count = sess_no + 1, 0
        count += 1
        prev = u
    return closed, (anchor, prev, sess_no, start, count)


def _capped_session_rows(user_id, sessions: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(
        [(user_id, no, n, _fmt_us(st), _fmt_us(end)) for no, n, st, end in sessions],
        columns=["user_id", "session_no", "n_events", "session_start", "session_end"],
    )


def _capped_session_fold(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch adapter (runs inside ``applyInPandas`` for
    ``session_window_capped``): every session of one user's events,
    the last, still-open one included."""
    (us,) = _ordered_group([pdf])
    closed, (_, end, no, start, n) = _capped_session_walk(us)
    return _capped_session_rows(pdf["user_id"].iloc[0], closed + [(no, n, start, end)])


def _capped_session_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stream adapter: emits the sessions this micro-batch closed and
    keeps the open one in state. The open session never emits,
    matching the exact oracle, which drops each user's last
    session."""
    (us,) = _ordered_group(pdfs)
    closed, open_session = _capped_session_walk(us, state.get if state.exists else None)
    state.update(open_session)
    if closed:
        yield _capped_session_rows(key[0], closed)


def capped_session_stateful(events: DataFrame) -> DataFrame:
    """T6 seventh shape: the duration-capped session rule
    (gap OR max-length split — not window-expressible; see the batch
    twin `queries.event_time.session_window_capped`) as per-key
    streaming state. State is five integers per user — O(1) forever —
    and each micro-batch folds its events into the open session,
    emitting only sessions it CLOSED."""
    return events.select("user_id", "ts", "event_id").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _capped_session_state_fn,
        outputStructType=_CS_OUT_SCHEMA,
        stateStructType=(
            "anchor_us long, prev_us long, session_no long, "
            "cur_start_us long, cur_count long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
