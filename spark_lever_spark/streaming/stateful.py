"""Arbitrary keyed state: updateStateByKey parity.

The reference's updateStateByKey (PairDStreamFunctions.scala:350-461,
impl StateDStream.scala:29-110) cogroups each batch with the previous
state RDD and runs a user update function over (new values, old state)
per key, emitting the *full* state every batch.

PySpark-native equivalent: ``applyInPandasWithState`` — per-key state
object + per-batch pandas chunks. The wrapper below reproduces the
reference's exact contract (full state emitted per updated key each
batch) for the common "state is a row of numeric/str fields" case.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def _field_names(schema: StructType | str) -> list[str]:
    """Column names of a StructType or a DDL string like
    'k string, cnt long' (applyInPandasWithState matches the returned
    pandas frame to the output schema BY NAME)."""
    if isinstance(schema, StructType):
        return list(schema.fieldNames())
    return [part.strip().split()[0] for part in schema.split(",") if part.strip()]


def update_state_by_key(
    df: DataFrame,
    key_cols: list[str],
    update_fn: Callable[[tuple, pd.DataFrame, tuple | None], tuple | None],
    state_schema: StructType | str,
    output_schema: StructType | str,
    timeout: str = "NoTimeout",
    timeout_ms_fn: Callable[[tuple, tuple], int] | None = None,
    on_timeout: Callable[[tuple, tuple | None], tuple | None] | None = None,
) -> DataFrame:
    """updateStateByKey(updateFunc) parity, plus state expiry.

    ``update_fn(key, batch_pdf, old_state) -> new_state | None`` mirrors
    the reference's ``(Seq[V], Option[S]) => Option[S]``: returning None
    drops the key's state (StateDStream.scala:60-65). The emitted rows
    are key + new state fields — the full state per touched key, every
    batch, exactly like the reference's state DStream.

    Expiry (a superset: the reference touches EVERY key each batch via
    the full-state cogroup, so idle-key cleanup was the update
    function's job; applyInPandasWithState only sees keys with data, so
    idle keys need the timeout mechanism): with
    ``timeout="EventTimeTimeout"``, ``timeout_ms_fn(key, new_state)``
    arms an absolute epoch-ms deadline after every update (the input
    stream must carry a watermark); with ``"ProcessingTimeTimeout"`` it
    is a relative duration. When the deadline passes,
    ``on_timeout(key, old_state)`` runs with no batch data, its
    non-None return is emitted as the key's FINAL row, and the state is
    removed either way — the finalize-and-evict shape sessionization
    needs, and the bound that keeps the state store finite at 100 TB.
    """
    timeout_conf = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
        "EventTimeTimeout": GroupStateTimeout.EventTimeTimeout,
    }[timeout]
    if (timeout != "NoTimeout") != (timeout_ms_fn is not None):
        # a timeout mode without an arming function never fires (state
        # grows without bound — the exact failure expiry exists to
        # prevent), and an arming function without a mode is dead code;
        # fail loudly at construction instead
        raise ValueError(
            "timeout mode and timeout_ms_fn must be provided together "
            f"(got timeout={timeout!r}, timeout_ms_fn="
            f"{'set' if timeout_ms_fn else 'None'})"
        )
    out_names = _field_names(output_schema)

    def handle(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            old_t: tuple | None = tuple(state.get) if state.exists else None
            res = on_timeout(key, old_t) if on_timeout else None
            state.remove()
            if res is not None:
                yield pd.DataFrame([dict(zip(out_names, (*key, *res)))])
            return
        old: tuple | None = tuple(state.get) if state.exists else None
        new: tuple | None = old
        for pdf in pdf_iter:
            new = update_fn(key, pdf, new)
        if new is None:
            if state.exists:
                state.remove()
            return
        state.update(new)
        if timeout_ms_fn is not None:
            deadline = timeout_ms_fn(key, new)
            # GroupStateTimeout members are plain strings: compare with
            # ==, never `is` (the closure's copy is unpickled on the
            # worker and not guaranteed interned)
            if timeout_conf == GroupStateTimeout.EventTimeTimeout:
                # Late data is NOT filtered before arbitrary-state
                # operators, so a deadline computed from a late event
                # can trail the watermark — which setTimeoutTimestamp
                # rejects (query crash). Clamp forward: the key then
                # times out in the next batch, the correct semantics
                # for an already-expired session.
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(deadline, wm + 1))
            elif timeout_conf == GroupStateTimeout.ProcessingTimeTimeout:
                state.setTimeoutDuration(deadline)
        yield pd.DataFrame([dict(zip(out_names, (*key, *new)))])

    return (
        df.groupBy(*key_cols)
        .applyInPandasWithState(
            handle,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def running_count_update(
    key: tuple, pdf: pd.DataFrame, old: tuple | None
) -> tuple:
    """The canonical updateStateByKey example (running count per key —
    the reference's BasicOperationsSuite updateStateByKey tests use
    exactly this shape)."""
    prev = old[0] if old else 0
    return (prev + len(pdf),)


def sessionize_stream(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_ms: int,
) -> DataFrame:
    """Streaming gap-sessionization over arbitrary keyed state — the
    stateful twin of the batch `sessionize_events` operator and the
    canonical use of finalize-and-evict expiry.

    Emits each session EXACTLY ONCE, when it closes, via either path:
    (a) a later event for the same key arrives past the gap (in-batch
    split — the closed session is flushed with the triggering batch),
    or (b) the key goes idle and the event-time watermark passes
    last_event + gap (timeout flush). Spark invokes a group either
    with data or as timed-out, never both in one batch, so the two
    paths cannot double-emit. Open sessions hold (start, last, count)
    in the state store — one row per ACTIVE key, evicted on close,
    which is what keeps state bounded at 100 TB. The input must carry
    ``withWatermark`` on ``ts_col``; sessions still open when the
    stream ends stay unemitted (inherent to streaming: they are not
    closed yet).

    Late events are folded as intervals: the open state and every batch
    event merge under the gap rule in time order, so an event OLDER
    than the open session's start forms (or joins) its own earlier
    session — emitted closed immediately, since a later session exists
    — rather than being silently absorbed into the open one.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    out_schema = (
        f"{user_col} long, session_start_ms long, session_end_ms long, "
        "n_events long"
    )
    cols = [user_col, "session_start_ms", "session_end_ms", "n_events"]

    def handle(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame([dict(zip(cols, (*key, start, last, n)))])
            return
        # fold state + batch as (start, last, count) intervals, merge
        # on the gap in time order
        items: list[tuple[int, int, int]] = [
            (t_ms, t_ms, 1)
            for pdf in pdf_iter
            for t_ms in (
                int(pd.Timestamp(t).timestamp() * 1000) for t in pdf[ts_col]
            )
        ]
        if state.exists:
            items.append(tuple(state.get))
        items.sort()
        merged: list[tuple[int, int, int]] = []
        for s, l, c in items:
            if merged and s - merged[-1][1] <= gap_ms:
                ps, pl, pc = merged[-1]
                merged[-1] = (ps, max(pl, l), pc + c)
            else:
                merged.append((s, l, c))
        *done, (start, last, n) = merged
        state.update((start, last, n))
        # clamp: a session rebuilt from late data may already be past
        # its deadline relative to the watermark; arm for next batch
        # instead of crashing on a rejected timestamp
        state.setTimeoutTimestamp(
            max(last + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        if done:
            yield pd.DataFrame(
                [dict(zip(cols, (*key, s, l, c))) for s, l, c in done]
            )

    return df.groupBy(user_col).applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType="start_ms long, last_ms long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
