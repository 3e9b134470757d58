"""Custom stateful streaming operator: per-host politeness token bucket via
``applyInPandasWithState`` (SURVEY §2.10 T2, streaming-native variant).

The batch engine enforces politeness with a per-host pyarrow step over the
host_counts ⟗ politeness tables once per epoch
(plans/crawl.py::_host_plan); in a continuous deployment the same
semantics run inside Structured Streaming — group the request stream by
host, keep the bucket level in GroupState, admit up to ⌊tokens⌋ requests per
micro-batch in arrival order, refill by rate once per batch, and tag the
rest ``deferred`` (they re-enter the frontier). State is per-key and
checkpointed by the streaming engine itself, mirroring the batch engine's
manifest protocol.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "host string, url string, decision string, tokens_after double"
STATE_SCHEMA = "tokens double"


def make_bucket_fn(rate_per_batch: float, burst: float):
    def bucket(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (host,) = key
        (tokens,) = state.get if state.exists else (burst,)
        for pdf in pdfs:
            pdf = pdf.sort_values(["url"], kind="stable")
            n_allow = min(int(tokens), len(pdf))
            tokens -= n_allow
            decisions = ["allowed"] * n_allow + ["deferred"] * (len(pdf) - n_allow)
            yield pd.DataFrame(
                {
                    "host": host,
                    "url": pdf["url"].to_numpy(),
                    "decision": decisions,
                    "tokens_after": tokens,
                }
            )
        tokens = min(burst, tokens + rate_per_batch)
        state.update((tokens,))
        yield from ()

    return bucket


def politeness_gate(
    requests: DataFrame, rate_per_batch: float = 1.0, burst: float = 2.0
) -> DataFrame:
    """Apply the stateful token bucket to a streaming DataFrame of
    (host, url) fetch requests."""
    return requests.groupBy("host").applyInPandasWithState(
        make_bucket_fn(rate_per_batch, burst),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
