"""CSV source/sink.

Parity with the reference CSV components
(``src/etl_core/components/file_components/csv/read_csv.py:13-50`` /
``write_csv.py:14-59`` → ``receivers/files/csv/csv_helper.py:13-83``):
header row, configurable separator (``, ; \\t``), and the reference's
all-string reads (``dtype=str`` — ``csv_helper.py:24``) reproduced by
defaulting to an all-``StringType`` schema when none is declared; a
declared schema wins and enables typed pushdown.

Scale: ``spark.read.csv`` splits files at block boundaries — the
16 MB dask blocksize knob becomes ``spark.sql.files.maxPartitionBytes``.
``single_file=True`` coalesces to 1 partition for byte-exact parity
with the reference's single-file sink; leave it False at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_core_spark.operators.base import OperatorConfigError, register_operator
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator

SEPARATORS = (",", ";", "\t")


@register_operator("read_csv")
class ReadCsv(SourceOperator):
    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("read_csv requires 'filepath'")
        sep = self.config.get("separator", ",")
        if sep not in SEPARATORS:
            raise OperatorConfigError(f"separator must be one of {SEPARATORS}")

    def read(self) -> DataFrame:
        # all-string parity with the reference's dtype=str read:
        # inferSchema=False (Spark's default, pinned explicitly) types
        # every column StringType, but naming the columns still reads
        # the header row with a one-row Spark job at build time. The
        # inferred-schema cache skips that job while the file is
        # unchanged; a declared schema skips it always.
        return self.read_files(
            "csv",
            header=True,
            delimiter=self.config.get("separator", ","),
            inferSchema=False,
        )


@register_operator("write_csv")
class WriteCsv(SinkOperator):
    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("write_csv requires 'filepath'")

    def write(self, df: DataFrame) -> None:
        out = df.coalesce(1) if self.config.get("single_file", True) else df
        (
            out.write.mode(self.config.get("mode", "overwrite"))
            .option("header", True)
            .option("delimiter", self.config.get("separator", ","))
            .csv(str(self.config["filepath"]))
        )
