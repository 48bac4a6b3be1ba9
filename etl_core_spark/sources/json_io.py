"""JSON / NDJSON source/sink.

Parity with the reference JSON components
(``src/etl_core/components/file_components/json/read_json.py`` →
``receivers/files/json/json_receiver.py``, ``json_helper.py``):

- ``.jsonl`` / ``.ndjson`` (optionally ``.gz``) stream line-delimited
  records (helper:73-76 extension sniffing); plain ``.json`` holds a
  top-level array → ``multiLine=True``.
- Nested structures stay nested (the reference flattens to dotted
  pandas columns — json_helper.py:300-343; structs are native here).
- NaN/Inf → null sanitization (helper:40-62) is inherent: Spark JSON
  writes null for non-finite doubles unless told otherwise.

Scale: NDJSON splits by line across executors; a single giant
top-level-array JSON file is unsplittable (multiLine) — same
limitation the reference's incremental parser has, documented here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_core_spark.operators.base import OperatorConfigError, register_operator
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator

LINE_DELIMITED_SUFFIXES = (".jsonl", ".ndjson", ".jsonl.gz", ".ndjson.gz")


def is_line_delimited(path: str) -> bool:
    return any(str(path).lower().endswith(s) for s in LINE_DELIMITED_SUFFIXES)


@register_operator("read_json")
class ReadJson(SourceOperator):
    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("read_json requires 'filepath'")

    def read(self) -> DataFrame:
        path = str(self.config["filepath"])
        if not is_line_delimited(path) and not self.config.get("lines", False):
            return self.read_files("json", multiLine=True)
        return self.read_files("json")


@register_operator("write_json")
class WriteJson(SinkOperator):
    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("write_json requires 'filepath'")

    def write(self, df: DataFrame) -> None:
        out = df.coalesce(1) if self.config.get("single_file", True) else df
        writer = out.write.mode(self.config.get("mode", "overwrite"))
        if self.config.get("compression"):
            writer = writer.option("compression", self.config["compression"])
        writer.json(str(self.config["filepath"]))
