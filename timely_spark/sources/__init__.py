from .lineprotocol import parse_lines_df, read_put_file
from .store import PointStore, write_points, read_points, compact_partitions

__all__ = [
    "parse_lines_df",
    "read_put_file",
    "PointStore",
    "write_points",
    "read_points",
    "compact_partitions",
]
