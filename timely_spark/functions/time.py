"""Time bucketing expressions (all integer math on epoch-ms columns).

The reference buckets a point into
``start + ((ts - start) / period) * period`` — buckets aligned to the
*query start*, not the epoch (server/.../sample/Downsample.java:31-42,
DataStore.java:693-695 floors the start itself). Epoch alignment is the
special case start=0. Integer expressions keep the whole computation
inside whole-stage codegen: no UDF, no timestamp types.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def time_bucket_ms(ts: Column | str, period_ms: int) -> Column:
    """Epoch-aligned bucket: ``(ts div period) * period`` (epoch ms in, epoch ms out)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (c - (c % F.lit(period_ms))).alias("bucket_ts")


def query_aligned_bucket_sql(ts: str, start_ms: int, period_ms: int) -> str:
    """SQL text of the query-start-aligned bucket, exactly
    Downsample.java:36: ``start + ((ts - start) % period subtracted)``.
    The engine renders its stages as SQL text."""
    off = f"({ts} - {start_ms})"
    return f"{start_ms} + ({off} - ({off} % {period_ms}))"
