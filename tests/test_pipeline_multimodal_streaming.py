"""records→report pipeline, multimodal binary operators, and the streaming
surface — over a small real crawl's fetched table."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gov_procurement_spider_spark.functions import images
from gov_procurement_spider_spark.operators.images_ops import (
    extract_features,
    frame_sample,
    resize,
)
from gov_procurement_spider_spark.plans.crawl import run_crawl
from gov_procurement_spider_spark.plans.records_pipeline import (
    RECORD_COLUMNS,
    REPORT_COLUMNS,
    csv_compat_sink,
    csv_compat_source,
    records_from_fetched,
    report_from_records,
)
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming.stream_demo import (
    run_to_memory,
    windowed_event_counts,
)

SPEC = SiteSpec(
    n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
    rate_per_sec=50.0, burst=100.0,
)


@pytest.fixture(scope="module")
def fetched(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("pipe"))
    res = run_crawl(spark, SPEC, ckpt)
    return res.fetched().cache()


def test_records_schema_and_order(fetched):
    rec = records_from_fetched(fetched)
    assert rec.columns == RECORD_COLUMNS  # normative order, main.py:154-158
    rows = rec.collect()
    assert rows
    for r in rows:
        assert r["名称"] == "空调"
        assert r["品牌"] in ("格力", "美的", "海尔", "奥克斯", "TCL")
        assert r["中标金额"].endswith("元")
        assert r["省份"] != "N/A"


def test_report_single_plan(fetched):
    rec = records_from_fetched(fetched)
    rep = report_from_records(rec)
    assert rep.columns == REPORT_COLUMNS
    rows = [r.asDict() for r in rep.collect()]
    assert len(rows) >= rec.count()  # splits only add rows
    # split rows have numeric-coerced 数量 (no delimiters survive)
    assert all("；" not in r["数量"] for r in rows)
    # spec/model separation happened
    assert any(r["型号"].startswith("KFR-") for r in rows)


def test_csv_round_trip(spark, fetched, tmp_path):
    """S5: the reference re-reads its own CSV between stages
    (post_processor.py:29). Write the report via the compat sink, read it
    back via the compat source — utf-8-sig BOM present, header not
    BOM-polluted, 'N/A' sentinel a literal string, every cell identical."""
    import os

    rep = report_from_records(records_from_fetched(fetched))
    path = str(tmp_path / "report")
    csv_compat_sink(rep, path)

    parts = [n for n in os.listdir(path) if n.startswith("part-") and n.endswith(".csv")]
    assert len(parts) == 1  # single-file contract (main.py:161)
    raw = open(os.path.join(path, parts[0]), "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")  # utf-8-sig survives

    back = csv_compat_source(spark, path)
    assert back.columns == REPORT_COLUMNS  # BOM didn't leak into the header
    orig = sorted(tuple(r) for r in rep.na.fill("N/A").collect())
    rt = sorted(tuple(r) for r in back.collect())
    assert rt == orig

    # sentinel contract: a null crosses the sink as the literal string 'N/A'
    holed = spark.createDataFrame([("x", None)], "a string, b string")
    hpath = str(tmp_path / "holed")
    csv_compat_sink(holed, hpath)
    assert csv_compat_source(spark, hpath).first()["b"] == "N/A"


def test_image_features(fetched):
    feats = extract_features(fetched)
    rows = feats.collect()
    assert len(rows) == fetched.count()
    for r in rows:
        assert 0.0 <= r.brightness <= 255.0
        assert r.phash_ok and r.psnr_ok


def test_image_resize_roundtrip(fetched):
    out = resize(fetched, 16, 12)
    rows = out.collect()
    assert len(rows) == fetched.count()
    for r in rows[:10]:
        px = images.decode_image(bytes(r.bytes))
        assert px.shape == (12, 16, 3)
        assert px.dtype == np.uint8


def test_frame_sample_rejects_non_video_payloads(fetched):
    """frame_sample is real now (MJPEG-AVI via the vendored RIFF walker +
    JPEG codec — see tests/test_video_audio_codecs.py for the positive
    path); feeding it the crawl's image payloads fails cleanly, not
    silently."""
    vids = fetched.selectExpr("image_id AS video_id", "bytes")
    with pytest.raises(Exception, match="RIFF|AVI"):
        frame_sample(vids).collect()


def test_streaming_windowed_counts(spark, sf_small):
    sdf = windowed_event_counts(spark, sf_small)
    assert sdf.isStreaming
    run_to_memory(sdf, "stream_counts")
    got = spark.sql("SELECT * FROM stream_counts")
    batch = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type", "n", "total_value",
        )
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b  # stream == batch on bounded input
