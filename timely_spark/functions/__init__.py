from .time import time_bucket_ms, query_aligned_bucket_sql
from .viz import viz_filter

__all__ = ["time_bucket_ms", "query_aligned_bucket_sql", "viz_filter"]
