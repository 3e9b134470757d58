"""Custom stateful streaming operator: the per-host politeness gate via
``applyInPandasWithState`` (SURVEY §2.10 T2, streaming-native variant).

The batch engine's politeness step runs here unchanged, one host per
group. The input stream carries frontier rows (plans/crawl.py
FRONTIER_COLS), one micro-batch standing for one epoch's frontier. The
state function concatenates the host's micro-batch, runs `_host_plan` on
the one-row batch (host, n_pending, tokens) with the tokens kept in
GroupState (a host seen for the first time starts with a full bucket),
and allows the host's first n_taken rows by SELECT_ORDER with
`_take_first`, the driver form of the batch selection; the rest are
``deferred`` (they stay in the frontier). ``tokens_after`` is the refilled
bucket `_host_plan` returns, the value stored in GroupState; a host absent
from a micro-batch keeps its bucket, as an idle host does in the batch
engine. So each micro-batch allows exactly the rows the batch engine
fetches in that epoch. State is per-key and checkpointed by the streaming
engine itself, mirroring the batch engine's manifest protocol.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.crawl import (
    _FRONTIER_PA, FRONTIER_COLS, SELECT_ORDER, _host_plan, _take_first,
)

OUTPUT_SCHEMA = (
    from_arrow_schema(_FRONTIER_PA)
    .add("decision", "string")
    .add("tokens_after", "double")
)
STATE_SCHEMA = "tokens double"


def make_bucket_fn(rate_per_batch: float, burst: float):
    plan = partial(_host_plan, burst=burst, refill=rate_per_batch)

    def bucket(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (host,) = key
        pending = pd.concat(pdfs)[FRONTIER_COLS]  # every chunk of the micro-batch
        rows = pa.Table.from_pandas(pending, preserve_index=False)
        # a host without state is new: _host_plan fills its null tokens
        tokens = pa.array(state.get if state.exists else [None], pa.float64())
        hosts = pa.RecordBatch.from_arrays(
            [pa.array([host]), pa.array([rows.num_rows]), tokens],
            ["host", "n_pending", "tokens"],
        )
        (host_plan,) = plan(hosts).to_pylist()
        state.update((host_plan["tokens"],))
        split = _take_first(rows, "host", SELECT_ORDER, host_plan["n_taken"])
        yield pd.concat(
            t.to_pandas().assign(decision=d)
            for t, d in zip(split, ("allowed", "deferred"))
        ).assign(tokens_after=host_plan["tokens"])

    return bucket


def politeness_gate(
    requests: DataFrame, rate_per_batch: float = 1.0, burst: float = 2.0
) -> DataFrame:
    """Apply the stateful politeness gate to a streaming DataFrame of
    frontier rows (FRONTIER_COLS), one micro-batch per epoch."""
    return requests.groupBy("host").applyInPandasWithState(
        make_bucket_fn(rate_per_batch, burst),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
