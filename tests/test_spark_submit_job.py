"""Ship-mode contract (north rule): the crawl job runs under real
``spark-submit --py-files <zip>`` with the package coming ONLY from the zip
— the way it lands on a multi-executor cluster. Slow (fresh JVM); marked so
``-m 'not submit'`` can skip it in quick loops.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.submit
def test_spark_submit_pyfiles_crawl():
    spark_submit = shutil.which("spark-submit") or str(
        Path(sys.executable).parent / "spark-submit"
    )
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on PATH")

    sys.path.insert(0, str(REPO / "scripts"))
    from build_pyfiles import build  # noqa: E402

    workdir = tempfile.mkdtemp(prefix="submit_test_")
    try:
        zpath = build(os.path.join(workdir, "gps.zip"))
        ckpt = os.path.join(workdir, "ckpt")
        # run from a NEUTRAL cwd with the repo stripped from PYTHONPATH:
        # imports must resolve from the --py-files zip alone
        env = {
            k: v
            for k, v in os.environ.items()
            if k not in ("PYTHONPATH",)
        }
        out = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zpath,
                str(REPO / "scripts" / "crawl_job.py"),
                "--ckpt", ckpt,
                "--seeds", "6", "--hosts", "3", "--detail-space", "60",
            ],
            capture_output=True,
            text=True,
            cwd=workdir,
            env=env,
            timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        res = json.loads(line)
        assert res["mode"] == "crawl"
        assert res["urls"] > 0 and res["epochs"] > 0
        assert res["phase_ms"] is None or "fetch" in res["phase_ms"]
        # resumability under ship mode: rerunning with the same ckpt is a
        # no-op continuation, not a crash
        out2 = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zpath,
                str(REPO / "scripts" / "crawl_job.py"),
                "--ckpt", ckpt,
                "--seeds", "6", "--hosts", "3", "--detail-space", "60",
            ],
            capture_output=True,
            text=True,
            cwd=workdir,
            env=env,
            timeout=600,
        )
        assert out2.returncode == 0, out2.stderr[-3000:]
        res2 = json.loads(
            [l for l in out2.stdout.splitlines() if l.startswith("{")][-1]
        )
        assert res2["urls"] == res["urls"]  # crawl_order is stable across resume
        # full TTL-recrawl lifecycle under ship mode: expire-all + reseed +
        # second pass (the expiry swaps the crawl's Bloom filter for a
        # cuckoo filter built from the post-expiry seen view)
        out3 = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zpath,
                str(REPO / "scripts" / "crawl_job.py"),
                "--ckpt", ckpt,
                "--seeds", "6", "--hosts", "3", "--detail-space", "60",
                "--recrawl",
            ],
            capture_output=True,
            text=True,
            cwd=workdir,
            env=env,
            timeout=600,
        )
        assert out3.returncode == 0, out3.stderr[-3000:]
        res3 = json.loads(
            [l for l in out3.stdout.splitlines() if l.startswith("{")][-1]
        )
        assert res3["mode"] == "recrawl"
        assert res3["urls_expired"] > 0
        # the second pass must actually FETCH: the deterministic site yields
        # an identical pass-2 crawl, so the total proof artifact doubles
        assert res3["urls"] == 2 * res["urls"], (res3["urls"], res["urls"])
        # the small crawl above fetches on the driver; a steady-state epoch
        # above _DRIVER_FETCH_MAX_URLS fetches through mapInArrow, so
        # executor Python workers must import the package from the zip
        steady = os.path.join(workdir, "steady")
        out4 = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zpath,
                str(REPO / "scripts" / "crawl_job.py"),
                "--ckpt", steady,
                "--hosts", "4", "--steady-urls", "2048",
            ],
            capture_output=True,
            text=True,
            cwd=workdir,
            env=env,
            timeout=600,
        )
        assert out4.returncode == 0, out4.stderr[-3000:]
        res4 = json.loads(
            [l for l in out4.stdout.splitlines() if l.startswith("{")][-1]
        )
        assert res4["mode"] == "steady_epoch" and res4["urls"] == 2048
        fetch_out = os.path.join(steady, "epoch=000001", "fetch_out")
        # one payload file per fetch task — 2× the 4 task slots — where a
        # driver fetch writes one
        payload = glob.glob(
            os.path.join(fetch_out, "row_type=payload", "part-*.parquet")
        )
        assert len(payload) == 8, payload
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
