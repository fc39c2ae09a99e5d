"""Arbitrary stateful streaming (SURVEY.md §2.9): a per-key alert FSM
via ``applyInPandasWithState`` — the sensor-pipeline 'N consecutive
out-of-range readings' alarm, the one operator class windowed aggs
cannot express.

State per user is ONE integer (the in-progress run length; alerts are
emitted, not counted): constant memory per key regardless of stream
length — exactly what keeps custom state viable on a 100 TB stream. Rows inside a micro-batch are sorted
by (ts, event_id) before folding so replay chunking does not change
the result (chunks are time-ordered).
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ALERT_THRESHOLD = 50.0
RUN_LENGTH = 3

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("run", T.IntegerType()),
    ]
)


def _alert_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    run = state.get[0] if state.exists else 0
    batches = [pdf for pdf in pdfs if len(pdf)]
    if not batches:
        state.update((run,))
        return
    # r17 per-group diet: this function runs once per (user, micro-batch)
    # — ~16k calls per replay at sf0.1 — so the per-call pandas overhead
    # (concat copy + sort_values) was most of the key's Python CPU.
    # Single-batch groups skip the concat, and the (ts, event_id) sort
    # is a numpy lexsort over the already-extracted columns (identical
    # total order: lexsort's last key is primary).
    pdf = batches[0] if len(batches) == 1 else pd.concat(batches)
    ts = pdf["ts"].to_numpy()
    eid = pdf["event_id"].to_numpy()
    val = pdf["value"].to_numpy()
    order = np.lexsort((eid, ts))
    high = val[order] > ALERT_THRESHOLD
    n = len(high)
    # run[i] = length of the consecutive-high run ending at i:
    # distance to the most recent non-high position (vectorized fold).
    idx = np.arange(n)
    last_low = np.maximum.accumulate(np.where(~high, idx, -1))
    run_vec = idx - last_low
    lows = np.flatnonzero(~high)
    first_low = lows[0] if lows.size else n
    run_vec[:first_low] += run  # carry the run in progress from prior batches
    state.update((int(run_vec[-1]),))
    alert_ids = eid[order][run_vec >= RUN_LENGTH]
    if alert_ids.size:
        yield pd.DataFrame({"user_id": user_id, "event_id": alert_ids})


def alert_fsm(events: DataFrame) -> DataFrame:
    """Emit one row per event that is the >=3rd consecutive reading
    above the threshold for its user."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _alert_fn,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def user_stats_tws(events):
    """Per-user lifetime stats via transformWithStateInPandas — the
    Spark 4 successor to applyInPandasWithState (alert_fsm above keeps
    the classic API; both stateful surfaces stay covered).

    The processor owns a typed ValueState ("n LONG, mx DOUBLE"); each
    micro-batch it folds the new rows into the state and emits the
    updated totals for the keys it saw — so with the full-fixture
    replay the final emission per user equals the batch aggregate,
    giving this streaming query a full DuckDB oracle.

    At 100 TB the state store shards by key exactly like the classic
    API; what transformWithState adds for real pipelines is typed
    multi-state per key, per-state TTL, and timers decoupled from
    output mode.

    NOT REGISTERED as a driver query: the TWS state protocol needs the
    `protobuf` package, absent from this offline environment (verified
    again round 3: `import google.protobuf` -> ModuleNotFoundError, and
    package installs are forbidden here, so vendoring is not an option
    either — protobuf's runtime is a compiled-descriptor machine, not a
    stub-able shim). The plan construction below is real; gate on
    protobuf at deploy time, same as the Kafka connector in
    sources/factory.py."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", "n LONG, mx DOUBLE")

        def handleInputRows(self, key, rows, timer_values):
            batch = pd.concat(list(rows), ignore_index=True)
            prev = self._state.get() if self._state.exists() else (0, float("-inf"))
            n = int(prev[0]) + len(batch)
            mx = max(float(prev[1]), float(batch["value"].max()))
            self._state.update((n, mx))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "max_value": [round(mx, 6)],
                }
            )

        def close(self) -> None:
            pass

    return events.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
        UserStats(),
        "user_id LONG, n_events LONG, max_value DOUBLE",
        "Update",
        "None",
    )
