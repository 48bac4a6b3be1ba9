"""ORC source/sink (beyond-reference; the other splittable columnar
format). Hive/Trino-centric deployments hand over ORC tables as often
as parquet ones; Spark's native reader gives the same column pruning,
predicate pushdown, and split parallelism, so ingesting them should
not require a conversion pass. Same config surface as the parquet
pair (read: filepath + optional declared schema; write: filepath,
mode, partition_by, compression, num_files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_core_spark.operators.base import OperatorConfigError, register_operator
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator


@register_operator("read_orc")
class ReadOrc(SourceOperator):
    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("read_orc requires 'filepath'")

    def read(self) -> DataFrame:
        return self.read_files("orc")


@register_operator("write_orc")
class WriteOrc(SinkOperator):
    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("write_orc requires 'filepath'")

    def write(self, df: DataFrame) -> None:
        from etl_core_spark.sources.base_io import plain_columnar_write

        plain_columnar_write(df, self.config, "orc")
