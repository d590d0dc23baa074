from bigdata_retailrocket_recsys_spark.sources.readers import (
    load_table,
    read_csv,
    read_parquet,
)
from bigdata_retailrocket_recsys_spark.sources.writers import write_parquet

__all__ = ["load_table", "read_csv", "read_parquet", "write_parquet"]
