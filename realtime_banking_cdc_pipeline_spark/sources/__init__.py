from .parquet_io import read_table, write_partitioned

__all__ = ["read_table", "write_partitioned"]
