"""Custom stateful streaming operators, all on ``applyInPandasWithState``.

The flagship is SURVEY §2.8's one genuinely non-SQL-expressible custom
stateful op: incremental trajectory speeds. The batch form
(operators/trajectory.py, reference kpt/visualize.py:60-88) computes
per-vehicle consecutive-fix speeds with a lag window, which needs the whole
history per key; the streaming form keeps ONE fix per vehicle as managed
state and emits a speed row per arriving fix.

The other operators reuse the same shape — a ``make_*_fn`` closure holding
the per-key logic (unit-testable against a fake ``GroupState``) plus a
``streaming_*`` wrapper that wires schemas, output mode and timeout:
sessionization, burst detection, KMV/count-min/rank-sketch cells,
Misra-Gries summaries, per-user profiles (map + array state) and an
idle-flush buffer (processing-time timeout as the idle signal). One API
keeps every operator runnable on both state-store providers: RocksDB when
the JVM has it (disk-bounded state, the SURVEY §4 posture) and the default
in-memory provider otherwise.

Scale posture: state is O(#keys) with a bounded record per key, not
O(#events); the state store shards by the grouping key across executors;
processing-time timeouts evict idle keys exactly like the reference's TTL
sweep (websocket_client.py:117-121).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import MAX_PLAUSIBLE_SPEED_KMH, MAX_TIME_GAP_S

EARTH_RADIUS_KM = 6371.0

OUTPUT_SCHEMA = (
    "vehicle_id long, ts long, dt_s long, dist_km double, speed_kmh double"
)
STATE_SCHEMA = "lat double, lon double, ts long"


def _haversine_km(lat1, lon1, lat2, lon2):
    """Vectorized haversine (numpy arrays in, km out) — same formula as
    functions/geo.py (reference kpt/visualize.py:26-36)."""
    import numpy as np

    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = (
        np.sin(dlat / 2) ** 2
        + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon / 2) ** 2
    )
    return EARTH_RADIUS_KM * 2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


def make_speed_fn(
    gap_max_s: int = MAX_TIME_GAP_S,
    speed_max: float = MAX_PLAUSIBLE_SPEED_KMH,
    state_ttl_s: int = 3600,
):
    """Build the per-key stateful function (closure over the guards).

    Semantics per vehicle: fixes sorted by ts, chained with the remembered
    last fix; each consecutive pair yields (dt, dist, speed) gated by the
    reference's F5/F6 guards (0 < dt <= gap_max_s, 0 < speed < speed_max);
    state advances to the newest fix either way.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            state.setTimeoutDuration(state_ttl_s * 1000)
            return
        rows = rows.sort_values("ts", kind="mergesort", ignore_index=True)
        if state.exists:
            plat, plon, pts = state.get
            prev = pd.DataFrame({"lat": [plat], "lon": [plon], "ts": [pts]})
            chain = pd.concat([prev, rows[["lat", "lon", "ts"]]], ignore_index=True)
        else:
            chain = rows[["lat", "lon", "ts"]]
        last = chain.iloc[-1]
        state.update((float(last["lat"]), float(last["lon"]), int(last["ts"])))
        state.setTimeoutDuration(state_ttl_s * 1000)
        if len(chain) < 2:
            return
        cur, prv = chain.iloc[1:].reset_index(drop=True), chain.iloc[:-1].reset_index(drop=True)
        dt = (cur["ts"] - prv["ts"]).astype("int64")
        dist = _haversine_km(
            prv["lat"].to_numpy(), prv["lon"].to_numpy(),
            cur["lat"].to_numpy(), cur["lon"].to_numpy(),
        )
        speed = pd.Series(dist, dtype="float64") * 3600.0 / dt.where(dt != 0, 1)
        out = pd.DataFrame(
            {
                "vehicle_id": key[0],
                "ts": cur["ts"].astype("int64"),
                "dt_s": dt,
                "dist_km": dist,
                "speed_kmh": speed,
            }
        )
        mask = (dt > 0) & (dt <= gap_max_s) & (speed > 0) & (speed < speed_max)
        out = out[mask.to_numpy()]
        if not out.empty:
            yield out

    return fn


def streaming_trajectory_speeds(
    positions: DataFrame,
    gap_max_s: int = MAX_TIME_GAP_S,
    speed_max: float = MAX_PLAUSIBLE_SPEED_KMH,
    state_ttl_s: int = 3600,
) -> DataFrame:
    """W1 trajectory speeds over a STREAMING positions frame.

    Input needs columns (vehicle_id:long, lat:double, lon:double, ts:long).
    Output one row per plausible consecutive-fix pair, incrementally.
    """
    return positions.groupBy("vehicle_id").applyInPandasWithState(
        make_speed_fn(gap_max_s, speed_max, state_ttl_s),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


__all__ = ["streaming_trajectory_speeds", "make_speed_fn", "OUTPUT_SCHEMA", "STATE_SCHEMA"]


# ---------------------------------------------------------------------------
# Streaming sessionization (the incremental twin of windows.sessionize)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, n_events long"
)
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"


def make_session_fn(gap_s: int = 1800, state_ttl_s: int = 3600):
    """Per-key gap sessionizer: events extend the open session while the
    inter-event gap stays ≤ ``gap_s``; a larger gap (or the state TTL
    firing with no new events) CLOSES the session and emits it.

    The batch twin (operators/windows.sessionize) needs the full history
    and one sort per key; this keeps O(1) state per user (start, last,
    count) and emits each closed session exactly once — the only way to
    sessionize an unbounded stream. The TTL doubles as the close signal
    for idle users, so ``state_ttl_s`` should be ≥ ``gap_s``.
    """
    gap_us = gap_s * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def row(start, last, n):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [int(start)],
                    "session_end_us": [int(last)],
                    "n_events": [int(n)],
                }
            )

        if state.hasTimedOut:
            # idle user: the open session (if any) is over — flush it
            if state.exists:
                start, last, n = state.get
                state.remove()
                yield row(start, last, n)
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            state.setTimeoutDuration(state_ttl_s * 1000)
            return
        ts = rows["ts_us"].sort_values(kind="mergesort", ignore_index=True)
        cur = list(state.get) if state.exists else None
        closed = []
        for t in ts.to_numpy():
            t = int(t)
            if cur is None:
                cur = [t, t, 0]
            elif t - cur[1] > gap_us:
                closed.append(tuple(cur))
                cur = [t, t, 0]
            # max()/min(): a late event from a reordered batch extends the
            # member count but must never regress the session end below
            # an already-observed timestamp (end < start emissions,
            # spurious early closes); symmetrically it widens the start
            # downward so cross-batch late data matches the batch twin's
            # full-history sort. Remaining divergence (documented): a
            # late event more than gap_us OLDER than the open session's
            # start merges into it instead of forming its own
            # already-closed session — append mode can't emit
            # retroactively.
            cur[0] = min(cur[0], t)
            cur[1] = max(cur[1], t)
            cur[2] += 1
        state.update(tuple(cur))
        state.setTimeoutDuration(state_ttl_s * 1000)
        for start, last, n in closed:
            yield row(start, last, n)

    return fn


def streaming_sessionize(
    events: DataFrame, gap_s: int = 1800, state_ttl_s: int = 3600
) -> DataFrame:
    """Gap-based sessions over a STREAMING events frame.

    Input needs (user_id:long, ts_us:long). Output: one row per CLOSED
    session (append mode — a closed session never changes, which is what
    makes this op streamable at all).

    Per-user (start, last, count) state rides the configured state-store
    provider — RocksDB when available (billions of users = disk-bounded
    state, the SURVEY §4 posture), in-memory fallback otherwise.
    """
    from .state import configure_state_store

    configure_state_store(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        make_session_fn(gap_s, state_ttl_s),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


__all__ += ["streaming_sessionize", "make_session_fn", "SESSION_OUTPUT_SCHEMA"]


# ---------------------------------------------------------------------------
# Streaming burst detection (the incremental twin of queries.q_event_bursts)
# ---------------------------------------------------------------------------

BURST_OUTPUT_SCHEMA = "user_id long, ts_us long, span_us long"
BURST_STATE_SCHEMA = "hist array<long>"


def make_burst_fn(k: int = 3, window_s: int = 14400, state_ttl_s: int = 86400):
    """Per-key burst detector: an event is BURSTY when it is the k-th
    event of its user within ``window_s`` seconds — identical semantics
    to the batch twin's ``lag(k-1)`` window (queries.q_event_bursts),
    computed incrementally with O(k) state per user (the last k-1 event
    timestamps).

    Emits one row per burst event with the span back to the (k-1)-th
    predecessor. State-TTL invariant: with ``state_ttl_s >= window_s``
    an idle gap long enough to expire the state is also long enough
    that no burst window can span it, so expiry never loses a burst —
    the wrapper enforces the inequality.
    """
    if k < 2:
        raise ValueError("k must be >= 2 (a 1-event burst is every event)")
    if state_ttl_s < window_s:
        raise ValueError("state_ttl_s must be >= window_s (burst-loss guard)")
    window_us = window_s * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # idle user: history can no longer matter
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            state.setTimeoutDuration(state_ttl_s * 1000)
            return
        hist = list(state.get[0]) if state.exists else []
        new_ts = sorted(int(t) for t in rows["ts_us"].to_numpy())
        chain = hist + new_ts
        out_ts, out_span = [], []
        for j in range(len(hist), len(chain)):
            if j >= k - 1:
                span = chain[j] - chain[j - (k - 1)]
                if span <= window_us:
                    out_ts.append(chain[j])
                    out_span.append(span)
        state.update((chain[-(k - 1):],))
        state.setTimeoutDuration(state_ttl_s * 1000)
        if out_ts:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_ts),
                    "ts_us": out_ts,
                    "span_us": out_span,
                }
            )

    return fn


def streaming_event_bursts(
    events: DataFrame, k: int = 3, window_s: int = 14400,
    state_ttl_s: int = 86400,
) -> DataFrame:
    """Burst events over a STREAMING events frame (append mode — a
    burst flag on an observed event never changes).

    Input needs (user_id:long, ts_us:long). Caveat shared with
    streaming_sessionize: events arriving across batches out of
    timestamp order can flag differently from the batch twin's
    full-history sort (within one batch they are sorted first).
    """
    from .state import configure_state_store

    configure_state_store(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        make_burst_fn(k, window_s, state_ttl_s),
        outputStructType=BURST_OUTPUT_SCHEMA,
        stateStructType=BURST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


__all__ += ["streaming_event_bursts", "make_burst_fn", "BURST_OUTPUT_SCHEMA"]


# ---------------------------------------------------------------------------
# Streaming KMV distinct sketch (incremental twin of q_user_distinct_sketch)
# ---------------------------------------------------------------------------

KMV_OUTPUT_SCHEMA = "event_type string, n_kept long, kth_hash long, est_users double"
KMV_STATE_SCHEMA = "hashes array<long>"


def make_kmv_fn(k: int = 64):
    """Per-key incremental KMV (bottom-k) distinct sketch — identical
    estimates to the batch twin (queries.q_user_distinct_sketch) because
    bottom-k-of-union is ASSOCIATIVE and COMMUTATIVE: merging batches in
    any order and any grouping yields the same sketch as one batch over
    the union. Unlike bursts/sessions there is NO cross-batch ordering
    caveat — the parity is exact by construction.

    State per key: the ≤ k smallest distinct hashes seen (O(k) longs).
    No TTL: a distinct-count sketch is cumulative; expiring it would
    silently reset the estimate. Emits the refreshed sketch row per
    batch that touches the key (update semantics)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    import math

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        cur = list(state.get[0]) if state.exists else []
        merged = sorted(set(cur).union(int(h) for h in rows["h"]))[:k]
        state.update((merged,))
        n = len(merged)
        kth = merged[-1]
        if n < k:
            est = float(n)
        else:
            # floor-form round6 — bit-identical to the batch twin's
            # portable rounding of the rational (k-1)*2^32/kth
            est = math.floor((k - 1) * 4294967296.0 / kth * 1e6 + 0.5) / 1e6
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_kept": [n],
                "kth_hash": [kth],
                "est_users": [est],
            }
        )

    return fn


def streaming_user_distinct_sketch(events: DataFrame, k: int = 64) -> DataFrame:
    """KMV distinct-users sketch over a STREAMING events frame (update
    mode — the estimate for a type refreshes as batches arrive).

    Input needs (event_type:string, h:long) where ``h`` is the portable
    md5 hash of the user id, computed JVM-side BEFORE the stateful op
    (functions.text.portable_hash) so the Python worker only merges
    integers."""
    from .state import configure_state_store

    configure_state_store(events.sparkSession)
    return events.groupBy("event_type").applyInPandasWithState(
        make_kmv_fn(k),
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ += ["streaming_user_distinct_sketch", "make_kmv_fn", "KMV_OUTPUT_SCHEMA"]


# ---------------------------------------------------------------------------
# Streaming HLL registers (incremental twin of q_user_hll_sketch)
# ---------------------------------------------------------------------------


def streaming_hll_registers(events: DataFrame) -> DataFrame:
    """HLL register state over a STREAMING events frame (update mode).

    Unlike the KMV and CMS twins, this needs NO custom stateful
    operator: the HLL merge IS elementwise max, which Spark supports
    natively as a streaming aggregate — the state store holds exactly
    the ≤ |groups|·64 register rows and each micro-batch folds in
    JVM-side. That zero-custom-code property is the operational payoff
    of choosing HLL for streaming distinct counts; the register rows
    feed operators.hll.hll_estimate unchanged (batch and stream produce
    bit-identical state for the same inputs — tested).

    Input contract matches streaming_user_distinct_sketch: rows of
    (event_type:string, h:long) with ``h`` the portable md5 hash of the
    user id, computed JVM-side before the aggregate."""
    from pyspark.sql import functions as F

    from ..operators.hll import hll_register_cols

    reg, rho = hll_register_cols(F.col("h"))
    return (
        events.select("event_type", reg, rho)
        .groupBy("event_type", "_reg")
        .agg(F.max("_rho").alias("_rho"))
    )


__all__ += ["streaming_hll_registers"]


# ---------------------------------------------------------------------------
# Streaming count-min sketch (incremental twin of q_event_cms_heavy_hitters)
# ---------------------------------------------------------------------------

CMS_OUTPUT_SCHEMA = "j int, b int, c long"
CMS_STATE_SCHEMA = "c long"


def make_cms_fn():
    """Per-CELL incremental count-min counter — the streaming twin of
    the batch sketch build in queries.q_event_cms_heavy_hitters.
    Counters are plain sums, so cross-batch merging is EXACT by
    construction (like KMV, unlike bursts): any batching of the input
    yields the identical d×w counter matrix as one batch over the
    union, and serving-side estimates (min over the d cells of a key)
    read the emitted table like the batch sketch.

    State per key (= per touched cell): ONE long. No TTL — a frequency
    sketch is cumulative; expiring cells would silently undercount."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        add = sum(len(p) for p in pdfs)
        if add == 0:
            return
        total = (state.get[0] if state.exists else 0) + add
        state.update((total,))
        yield pd.DataFrame({"j": [key[0]], "b": [key[1]], "c": [total]})

    return fn


def streaming_cms_counters(cells: DataFrame) -> DataFrame:
    """Count-min counter matrix over a STREAMING frame of pre-exploded
    cells (update mode — a cell's count refreshes as batches arrive).

    Input needs (j:int, b:int), one row per (event, hash row) —
    computed JVM-side BEFORE the stateful op via
    ``functions.sketch.cms_buckets`` + ``explode`` so the Python worker
    only adds integers and the cell addressing is bit-identical to the
    batch/oracle sketch."""
    from .state import configure_state_store

    configure_state_store(cells.sparkSession)
    return cells.groupBy("j", "b").applyInPandasWithState(
        make_cms_fn(),
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ += ["streaming_cms_counters", "make_cms_fn", "CMS_OUTPUT_SCHEMA"]


# ---------------------------------------------------------------------------
# Streaming dyadic-CMS rank sketch (incremental twin of
# queries.q_order_price_rank_sketch / operators.qsketch)
# ---------------------------------------------------------------------------

QRANK_OUTPUT_SCHEMA = "g string, lvl int, j int, b int, c long"
QRANK_STATE_SCHEMA = "c long"


def make_rank_cell_fn():
    """Per-CELL incremental dyadic-CMS counter — the streaming twin of
    operators.qsketch.build_rank_sketch. Identical parity argument to
    the flat CMS twin (cells are plain sums → associative and
    commutative), just keyed by (group, level, row, bucket): any
    batching of the input yields the identical counter table as one
    batch over the union, so quantile descents over the streamed cells
    equal the batch sketch's answers exactly.

    State per key (= per touched cell): ONE long. No TTL — a rank
    sketch is cumulative; expiring cells would silently shift every
    quantile left."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        add = sum(len(p) for p in pdfs)
        if add == 0:
            return
        total = (state.get[0] if state.exists else 0) + add
        state.update((total,))
        yield pd.DataFrame(
            {
                "g": [key[0]],
                "lvl": [key[1]],
                "j": [key[2]],
                "b": [key[3]],
                "c": [total],
            }
        )

    return fn


def streaming_rank_sketch_cells(cells: DataFrame) -> DataFrame:
    """Dyadic-CMS rank-sketch counter table over a STREAMING frame of
    pre-exploded cells (update mode — a cell refreshes as batches
    arrive).

    Input needs (g:string, lvl:int, j:int, b:int), one row per
    (value, level, hash row) — computed JVM-side BEFORE the stateful op
    via ``operators.qsketch.dyadic_cells`` + ``explode`` so the Python
    worker only adds integers and the cell addressing is bit-identical
    to the batch sketch (and to the driver-side descent)."""
    from .state import configure_state_store

    configure_state_store(cells.sparkSession)
    return cells.groupBy("g", "lvl", "j", "b").applyInPandasWithState(
        make_rank_cell_fn(),
        outputStructType=QRANK_OUTPUT_SCHEMA,
        stateStructType=QRANK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ += [
    "streaming_rank_sketch_cells",
    "make_rank_cell_fn",
    "QRANK_OUTPUT_SCHEMA",
]


# ---------------------------------------------------------------------------
# Streaming Misra-Gries summary (incremental twin of
# operators/heavy.py / doc_token_heavy_hitters' candidate phase)
# ---------------------------------------------------------------------------

MG_OUTPUT_SCHEMA = (
    "source string, token string, residual long, n_total long"
)
MG_STATE_SCHEMA = "tokens array<string>, counts array<long>, n_total long"


def make_mg_fn(k: int = 48):
    """Per-key incremental Misra-Gries summary — the streaming twin of
    ``operators.heavy.mg_candidates``. The same mergeable rule runs per
    micro-batch (add the batch's counts, subtract the (k+1)-th largest,
    drop non-positive), so after ANY batching the summary satisfies the
    batch operator's guarantee: every value with total frequency
    > n_total/(k+1) for this key is present, and each ``residual`` is a
    lower bound on the true count with error ≤ n_total/(k+1)
    (Agarwal et al., mergeable summaries — merging preserves the MG
    error bound). The exact-verify phase stays a batch/serving join;
    the stream maintains the bounded candidate state.

    State per key: ≤ k (token, residual) pairs + the running total.
    No TTL — like KMV, the summary is cumulative; expiring it would
    silently break the superset guarantee. Emits the refreshed summary
    (one row per surviving token) each batch that touches the key."""
    if k < 2:
        raise ValueError("k must be >= 2")
    import heapq

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not rows.empty:
            rows = rows[rows["token"].notna()]  # N must match value_counts
        if rows.empty:
            return
        if state.exists:
            toks, counts, n_total = state.get
            summ = dict(zip(toks, (int(c) for c in counts)))
        else:
            summ, n_total = {}, 0
        n_total = int(n_total) + len(rows)
        for v, c in rows["token"].value_counts().items():
            summ[v] = summ.get(v, 0) + int(c)
        if len(summ) > k:
            m = heapq.nlargest(k + 1, summ.values())[-1]
            summ = {v: c - m for v, c in summ.items() if c > m}
        state.update((list(summ.keys()), list(summ.values()), n_total))
        yield pd.DataFrame(
            {
                "source": key[0],
                "token": list(summ.keys()),
                "residual": list(summ.values()),
                "n_total": n_total,
            }
        )

    return fn


def streaming_mg_summary(tokens: DataFrame, k: int = 48) -> DataFrame:
    """Misra-Gries heavy-hitter candidate summary over a STREAMING
    (source:string, token:string) frame, one bounded summary per source
    (update mode — a source's summary refreshes as batches arrive)."""
    from .state import configure_state_store

    configure_state_store(tokens.sparkSession)
    return tokens.groupBy("source").applyInPandasWithState(
        make_mg_fn(k),
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ += ["streaming_mg_summary", "make_mg_fn", "MG_OUTPUT_SCHEMA"]


# ---------------------------------------------------------------------------
# Streaming user profiles (online feature maintenance over map/array state)
# ---------------------------------------------------------------------------

#: recent-values window kept per user by the profile operator.
PROFILE_RECENT_K = 3

PROFILE_OUTPUT_SCHEMA = (
    "user_id long, event_type string, n_events long, n_total long, "
    "recent_mean double"
)
PROFILE_STATE_SCHEMA = (
    "counts map<string,bigint>, recent array<struct<ts:bigint,v:double>>"
)


def make_profile_fn(recent_k: int = PROFILE_RECENT_K):
    """Per-user incremental profile: a map of event-type → count and the
    last ``recent_k`` (ts, value) pairs, refreshed per micro-batch — the
    pattern that keeps model features warm without recomputing a growing
    history (the batch recompute is the parity oracle in the test, not
    the production plan).

    Emits one row per event type the batch touched, carrying that type's
    running count, the user's running total and the mean of the user's
    ``recent_k`` most recent values (by ts). No TTL: the profile is
    cumulative."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        if state.exists:
            counts, recent = state.get
            counts = dict(counts)
            recent = [(int(t), float(v)) for t, v in recent]
        else:
            counts, recent = {}, []
        recent += [(int(t), float(v)) for t, v in zip(rows["ts"], rows["value"])]
        recent = sorted(recent, key=lambda r: r[0])[-recent_k:]
        touched = rows.groupby("event_type").size()
        for etype, cnt in touched.items():
            counts[etype] = counts.get(etype, 0) + int(cnt)
        state.update((counts, recent))
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "event_type": list(touched.index),
                "n_events": [counts[t] for t in touched.index],
                "n_total": sum(counts.values()),
                "recent_mean": sum(v for _t, v in recent) / len(recent),
            }
        )

    return fn


def streaming_user_profiles(
    events: DataFrame, recent_k: int = PROFILE_RECENT_K
) -> DataFrame:
    """Per-user incremental profile features over a STREAMING events
    frame (user_id long, event_type string, value double, ts long);
    append mode — each emitted row is the profile as of its batch."""
    from .state import configure_state_store

    configure_state_store(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        make_profile_fn(recent_k),
        outputStructType=PROFILE_OUTPUT_SCHEMA,
        stateStructType=PROFILE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ += ["streaming_user_profiles", "make_profile_fn", "PROFILE_OUTPUT_SCHEMA"]


# ---------------------------------------------------------------------------
# Streaming idle flush (buffer per key, emit once the key goes idle)
# ---------------------------------------------------------------------------

IDLE_FLUSH_OUTPUT_SCHEMA = "user_id long, n_flushed long"
IDLE_FLUSH_STATE_SCHEMA = "n long"


def make_idle_flush_fn():
    """Per-key buffered flush: rows accumulate into a counter and are
    emitted ONLY once the key goes idle — the buffer-until-idle shape of
    micro-batch write coalescing, session finalization and delayed-ack
    sinks.

    Every batch with data for the key re-arms a 1 ms processing-time
    timeout; a timeout fires only in a batch that has no data for the
    key, so the first such batch emits the buffered count and drops the
    state."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            if state.exists:
                (n,) = state.get
                state.remove()
                yield pd.DataFrame({"user_id": [int(key[0])], "n_flushed": [int(n)]})
            return
        add = sum(len(p) for p in pdfs)
        if add == 0:
            return
        state.update(((state.get[0] if state.exists else 0) + add,))
        state.setTimeoutDuration(1)

    return fn


def streaming_idle_flush(events: DataFrame) -> DataFrame:
    """Idle-flushed per-user row counts over a STREAMING frame with a
    (user_id long, ...) schema; append mode — one row per idle flush."""
    from .state import configure_state_store

    configure_state_store(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        make_idle_flush_fn(),
        outputStructType=IDLE_FLUSH_OUTPUT_SCHEMA,
        stateStructType=IDLE_FLUSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


__all__ += ["streaming_idle_flush", "make_idle_flush_fn", "IDLE_FLUSH_OUTPUT_SCHEMA"]
