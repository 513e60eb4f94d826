"""Micro-batch-count independence of the stateful streaming queries.

Every drained streaming query claims its final result equals the batch
answer regardless of how the drain was micro-batched. This suite makes
that claim falsifiable: the events table is re-sharded into CHRONOLOGICAL
chunks (in-order arrival — the contract a real pipeline's file drops
satisfy; watermarks never see data later than their tolerance), each
chunk becomes one micro-batch via maxFilesPerTrigger=1, and the
registered query functions must produce row-for-row identical results
against the split layout and the original single-file layout.

This also exercises the StreamDrain.table multi-file-directory path: a
directory-valued events.parquet previously yielded a silently EMPTY
stream (zero batches, no error) — the exact failure mode that would
appear if the driver regenerated tables as multi-file parquet.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_lever_spark import registry

_SPLIT_K = 4


@pytest.fixture(scope="module")
def split_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    """A clone of sf_dir where events.parquet is a DIRECTORY of
    chronological chunks (everything else symlinked verbatim)."""
    root = str(tmp_path_factory.mktemp("sf_split"))
    for f in os.listdir(sf_dir):
        if f != "events.parquet":
            os.symlink(os.path.join(sf_dir, f), os.path.join(root, f))
    ev = (
        pq.read_table(os.path.join(sf_dir, "events.parquet"))
        .to_pandas()
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    d = os.path.join(root, "events.parquet")
    os.makedirs(d)
    n = len(ev)
    for i in range(_SPLIT_K):
        chunk = ev.iloc[i * n // _SPLIT_K : (i + 1) * n // _SPLIT_K]
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(d, f"chunk{i:03d}.parquet"),
        )
    return root


@pytest.mark.parametrize(
    "name",
    [
        "stream_windowed_events_hourly",
        "stream_session_window_events",
        "stream_sliding_events_30m",
        "stream_dedup_events",
        "stream_watermark_append_close",
        "stream_stream_join_click_purchase",
        "stream_stream_left_join_unmatched_clicks",
        # chained stateful operators (dedup state -> windowed agg state)
        # must also be batch-count independent
        "stream_windowed_distinct_users",
        # rank-truncate over drained state: the leaderboard must not
        # depend on how many micro-batches built the counts
        "stream_hourly_top2_event_types",
    ],
)
def test_batch_count_independence(spark, sf_dir, split_sf_dir, name):
    fn = registry.all_queries()[name].fn
    single = sorted(map(tuple, fn(spark, sf_dir).collect()))
    multi = sorted(map(tuple, fn(spark, split_sf_dir).collect()))
    assert multi == single, f"{name}: multi-batch result diverged"
    assert len(single) > 0, f"{name}: empty result (silent-empty stream?)"
