"""The stateful streaming politeness gate (applyInPandasWithState) against
the batch engine: fed each committed epoch's frontier as one micro-batch,
the gate allows exactly the rows the engine fetched in that epoch."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema

from gov_procurement_spider_spark.plans import crawl as C
from gov_procurement_spider_spark.streaming import checkpoint as ck
from gov_procurement_spider_spark.streaming.stateful_politeness import politeness_gate
from tests.test_crawl_dual_path import FRACTIONAL, SPEC

ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _epoch_requests(ckpt, out_dir):
    """Each committed epoch's non-empty frontier as one parquet file, with
    mtimes in epoch order (the file source's order); returns the epochs."""
    epochs = []
    for e in ck.committed_epochs(ckpt):
        frontier = pq.read_table(ck.table_path(ckpt, e, "frontier"))
        if frontier.num_rows:
            path = os.path.join(out_dir, f"epoch-{e:04d}.parquet")
            pq.write_table(frontier.select(C.FRONTIER_COLS), path)
            os.utime(path, (1_000_000 + e, 1_000_000 + e))
            epochs.append(e)
    return epochs


@pytest.mark.parametrize(
    "max_records", [None, "2"], ids=["default_batches", "two_row_batches"]
)
@pytest.mark.parametrize(
    "spec", [SPEC, FRACTIONAL], ids=["budget_bound", "fractional_rate"]
)
def test_gate_allows_each_epochs_crawl_order(spark, spec, max_records):
    """One host's micro-batch spans several Arrow chunks under two-row
    batches; the gate must still allow the host's first rows by
    SELECT_ORDER, not the first rows to arrive."""
    ckpt = tempfile.mkdtemp(prefix="gate_crawl_")
    requests = tempfile.mkdtemp(prefix="gate_requests_")
    stream_ckpt = tempfile.mkdtemp(prefix="gate_stream_")
    cols = ["epoch", "host", *C.SELECT_ORDER]
    crawled = {}
    for r in C.run_crawl(spark, spec, ckpt).crawl_order().select(*cols).collect():
        crawled.setdefault(r[0], []).append(tuple(r[1:]))
    epochs = _epoch_requests(ckpt, requests)
    old = spark.conf.get(ARROW_BATCH)
    batches = {}

    def collect(df, batch_id):
        batches[batch_id] = df.select("decision", "tokens_after", *cols[1:]).collect()

    try:
        if max_records is not None:
            spark.conf.set(ARROW_BATCH, max_records)
        stream = (
            spark.readStream.schema(from_arrow_schema(C._FRONTIER_PA))
            .option("maxFilesPerTrigger", 1)
            .parquet(requests)
        )
        rate = spec.rate_per_sec * spec.epoch_seconds
        q = (
            politeness_gate(stream, rate_per_batch=rate, burst=spec.burst)
            .writeStream.outputMode("update")
            .option("checkpointLocation", stream_ckpt)
            .foreachBatch(collect)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(ARROW_BATCH, old)
    assert sorted(batches) == list(range(len(epochs)))
    assert any(not crawled.get(e) for e in epochs) == (spec is FRACTIONAL)
    for batch_id, e in enumerate(epochs):
        out = batches[batch_id]
        allowed = sorted(tuple(r[2:]) for r in out if r.decision == "allowed")
        assert allowed == crawled.get(e, []), f"epoch {e}"
        assert all(0 <= r.tokens_after <= spec.burst for r in out)
    for d in (ckpt, requests, stream_ckpt):
        shutil.rmtree(d, ignore_errors=True)
