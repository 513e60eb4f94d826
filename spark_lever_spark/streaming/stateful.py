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
) -> DataFrame:
    """updateStateByKey(updateFunc) parity.

    ``update_fn(key, batch_pdf, old_state) -> new_state | None`` mirrors
    the reference's ``(Seq[V], Option[S]) => Option[S]``: returning None
    drops the key's state (StateDStream.scala:60-65). The emitted rows
    are key + new state fields — the full state per touched key, every
    batch, exactly like the reference's state DStream.
    """
    out_names = _field_names(output_schema)

    def handle(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        old: tuple | None = tuple(state.get) if state.exists else None
        new: tuple | None = old
        for pdf in pdf_iter:
            new = update_fn(key, pdf, new)
        if new is None:
            if state.exists:
                state.remove()
            return
        state.update(new)
        yield pd.DataFrame([dict(zip(out_names, (*key, *new)))])

    return (
        df.groupBy(*key_cols)
        .applyInPandasWithState(
            handle,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
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
