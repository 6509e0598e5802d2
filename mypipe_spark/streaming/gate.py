"""Stateful per-key event gates — the streaming twins of the batch
burst-suppression and rate-limit stages in plans/analytics.py.

Both gates are one fold, :func:`_gate`: per key, in (us, event_id)
order, an event is KEPT iff fewer than ``limit`` raw same-key
arrivals (kept or dropped) precede it inside its trailing window
``(us - W, us]``. Deciding that needs only the limit-th most recent
prior arrival time, so the state is a ring of the last ``limit`` raw
arrival times per key — bounded however hot the key (the hot key is
the case a rate limiter exists for; an unbounded in-window buffer
would make the gate the memory victim of the traffic it guards
against).

- :func:`ratelimit_stream` keys on ``user_id`` — twin of
  :func:`plans.analytics.rate_limited_events` (the LAG(us, limit)
  form behind events_rate_limit_audit).
- :func:`debounce_stream` keys on ``(user_id, event_type)`` with
  ``limit=1`` and ``W = threshold + 1`` — twin of
  :func:`plans.analytics.debounce_starters`: in integer microseconds
  a gap ``>= threshold + 1`` from the previous raw same-key event is
  a gap ``> threshold``, so a chain of sub-threshold gaps stays one
  burst however long it spans.

Semantics contract (stream==batch pinned in tests/test_thin.py and
tests/test_ratelimit.py): the equality holds under the ordered-replay
contract every changelog consumer here relies on (per-key event-time
order across microbatches — file replay via
changelog.stamp_increasing_mtimes). The state carries only past
arrival times, so a late event that time-travels behind them is
gated against arrivals the batch window would order after it; late
data needs the SCD2-style dead-letter guard upstream. The batch LAG
form never counts a same-timestamp peer the stream has not yet
processed, which is why the two agree exactly.

Exact ids through the Arrow boundary: Arrow→pandas input conversion
promotes a NULL-bearing bigint column to float64, silently
corrupting ids ≥ 2^53 that share a batch with a NULL id. So
``event_id`` ALSO travels as a STRING column (``eid_s``): the gate
emits that lossless copy, the wrapper casts it back to bigint, and
the in-batch sort tiebreak decodes the same string (exact
arbitrary-precision ints). ``user_id`` is emitted from the exact key
tuple Spark hands the gate, never from the (possibly promoted) pandas
column; ``event_type`` is a string column and never promotes.

Scale shape: ``limit`` × 8 bytes of state per live key; each
microbatch shuffles once on the key (the stateful-operator exchange)
and does a per-key linear pass. Append-only output, monotone state —
no watermark needed for kept-set correctness.

Checkpoints: debounce state is the ``times array<bigint>`` ring; a
debounce query checkpointed with the older single ``last_us bigint``
state cannot resume from that checkpoint and must restart from a
fresh one.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.analytics import _BURST_WINDOW_US, _DEBOUNCE_US, _RATE_LIMIT

# what the gate EMITS from pandas (string ids — exact); the public
# wrappers cast event_id back to bigint
GATE_EMIT_SCHEMA = (
    "event_id string, user_id bigint, event_type string, ts timestamp_ntz"
)
_STATE_SCHEMA = "times array<bigint>"


def canonical_events(events: DataFrame) -> DataFrame:
    """The ONE canonical projection in front of every stateful gate
    and its batch twin: timeless events excluded — filtered on the
    TRY_CAST ntz value, so a non-NULL string ts that fails to parse
    is excluded exactly like a NULL. Filtering the raw column instead
    would either crash the query at the plain cast under ANSI mode,
    or (non-ANSI) let the row through with us=NULL and crash the
    pandas gate's int() on NaN. The projections below keep PLAIN
    casts: only rows whose ts provably parses survive the filter.
    Then bigint ids, ntz timestamp, integer-microsecond ``us`` for
    ordering/arithmetic, and the lossless string copy of event_id
    (``eid_s``)."""
    return events.filter(
        F.col("ts").try_cast("timestamp_ntz").isNotNull()
    ).select(
        F.col("event_id").cast("bigint"),
        # normalize BEFORE stringifying: a double/decimal event_id
        # upstream must yield the same id as the bigint tiebreak
        # column ('7', never '7.0' — which the ANSI cast back to
        # bigint would throw on)
        F.col("event_id").cast("bigint").cast("string").alias("eid_s"),
        F.col("user_id").cast("bigint"),
        "event_type",
        F.col("ts").cast("timestamp_ntz"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )


def sort_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """The gate's in-batch order — mirrors the batch windows' ORDER BY
    us ASC, event_id ASC NULLS LAST (stable sort, so microbatch
    arrival order breaks any residual tie exactly like the batch
    window's deterministic tiebreak chain).

    The id tiebreak must be EXACT: when a NULL id shares the
    microbatch, Arrow→pandas promotes the numeric ``event_id`` column
    to float64 and two same-microsecond ids differing only beyond the
    53-bit mantissa would mis-tie. Fast path: with no NULL the column
    arrives as exact int64 and sorts vectorized; only a promoted
    (float64) column pays the per-row decode of the lossless ``eid_s``
    string copy into Python ints."""
    if batch["event_id"].dtype.kind in "iu":  # exact ints: no NULL came
        return batch.sort_values(
            ["us", "event_id"], na_position="last", kind="mergesort"
        )
    # dtype=object is load-bearing: .map/inference would promote the
    # int keys straight back to float64, re-creating the hazard
    key = pd.Series(
        [None if pd.isna(s) else int(s) for s in batch["eid_s"]],
        index=batch.index,
        dtype="object",
    )
    out = batch.assign(_eid_key=key).sort_values(
        ["us", "_eid_key"], na_position="last", kind="mergesort"
    )
    return out.drop(columns=["_eid_key"])


def emit_kept(batch: pd.DataFrame, keep: list, user_id) -> pd.DataFrame:
    """Kept rows in ``GATE_EMIT_SCHEMA`` order: exact string event_id
    from the lossless copy, key-derived user_id, the batch's
    event_type and pandas-native ts. The caller yields this iff non-empty."""
    idx = batch.index[keep]
    return pd.DataFrame(
        {
            "event_id": batch.loc[idx, "eid_s"].reset_index(drop=True),
            "user_id": pd.Series([user_id] * len(idx), dtype="Int64"),
            "event_type": batch.loc[idx, "event_type"].reset_index(drop=True),
            "ts": batch.loc[idx, "ts"].reset_index(drop=True),
        }
    )


def _make_gate_fn(limit: int, window_us: int):
    def gate(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # ring of the last `limit` raw arrival times, oldest first
        (times,) = state.get if state.exists else ([],)
        times = list(times)
        batch = sort_batch(pd.concat(list(pdfs), ignore_index=True))
        keep = []
        for us in batch["us"]:
            us = int(us)
            # kept iff the limit-th most recent prior arrival is
            # outside the trailing window (us - W, us] — exactly the
            # batch LAG(us, limit) <= us - W test
            keep.append(len(times) < limit or times[0] <= us - window_us)
            times.append(us)
            if len(times) > limit:
                times.pop(0)
        state.update((times,))
        if any(keep):
            # user_id leads every gate's key: emit it from the exact
            # key tuple, never the pandas column
            yield emit_kept(batch, keep, key[0])

    return gate


def _gate(
    events: DataFrame, keys: list[str], limit: int, window_us: int
) -> DataFrame:
    """Kept events of a STREAMING events DataFrame: per ``keys``, at
    most ``limit`` raw arrivals in any trailing ``window_us``."""
    gated = canonical_events(events).groupBy(*keys).applyInPandasWithState(
        _make_gate_fn(limit, window_us),
        outputStructType=GATE_EMIT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return gated.select(
        F.col("event_id").cast("bigint"), "user_id", "event_type", "ts"
    )


def ratelimit_stream(
    events: DataFrame,
    limit: int = _RATE_LIMIT,
    window_us: int = _BURST_WINDOW_US,
) -> DataFrame:
    """Kept events of a STREAMING events DataFrame under the
    raw-arrival rate gate — column-for-column the batch
    :func:`plans.analytics.rate_limited_events` output. ``events``
    needs the canonical columns (event_id, user_id, event_type, ts);
    extra columns are ignored."""
    if limit < 1:
        raise ValueError(
            f"rate limit must be >= 1 (got {limit}); a block-all gate "
            "is a filter, not a rate limiter"
        )
    return _gate(events, ["user_id"], limit, window_us)


def debounce_stream(
    events: DataFrame, threshold_us: int = _DEBOUNCE_US
) -> DataFrame:
    """Kept (burst-starting) events of a STREAMING events DataFrame —
    column-for-column the batch :func:`debounce_starters` output: an
    event is kept iff its gap from the previous RAW same-(user_id,
    event_type) event exceeds ``threshold_us``. ``events`` needs the
    canonical columns (event_id, user_id, event_type, ts); extra
    columns are ignored."""
    return _gate(events, ["user_id", "event_type"], 1, threshold_us + 1)
