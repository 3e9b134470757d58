"""URL column expressions shared by the crawler.

The 60-bit URL hash here is bit-identical to site_model.h64 (sha256 hex
prefix) so driver-side Python (refsim, bloom build) and executor-side Spark
columns agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_hash64(col: Column | str) -> Column:
    """= site_model.h64: int(sha256(url).hexdigest()[:15], 16), as a column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")
