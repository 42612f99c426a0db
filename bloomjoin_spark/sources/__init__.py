from .io import iceberg_session_conf, read_table, tables
from .layout import (
    co_located_join,
    write_bucketed,
    write_partitioned,
    write_range_sorted,
    write_zordered,
    zorder_col,
)
from .skipping import read_bloom_indexed, write_bloom_indexed

__all__ = [
    "iceberg_session_conf",
    "read_table",
    "tables",
    "write_bucketed",
    "write_partitioned",
    "co_located_join",
    "write_range_sorted",
    "write_zordered",
    "zorder_col",
    "write_bloom_indexed",
    "read_bloom_indexed",
]
