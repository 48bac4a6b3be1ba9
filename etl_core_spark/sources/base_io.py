"""Shared source/sink operator bases."""

from __future__ import annotations

import collections
import contextlib
import contextvars
import re
import threading
import weakref
from typing import Optional

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from etl_core_spark.operators.base import Operator, OperatorConfigError, PortMap
from etl_core_spark.schema import Schema

#: Session SQL confs that file-source schema inference reads. Their
#: values are part of the inferred-schema cache key, so flipping one
#: re-infers: column-name case folding, the session time zone and
#: default timestamp type (CSV/JSON timestamp inference), the parquet
#: binary/INT96/NTZ/nanos type mappings, footer merging for parquet
#: and ORC, the ORC reader implementation, partition-value type
#: inference, and whether corrupt files are skipped while inferring.
INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.orc.mergeSchema",
    "spark.sql.orc.impl",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.files.ignoreCorruptFiles",
)

#: INFERENCE_CONFS values per session, memoized while a
#: ``reading_confs_once`` block (one plan build) is open
_CONF_MEMO: contextvars.ContextVar[Optional[dict]] = contextvars.ContextVar(
    "etl_core_spark_inference_confs", default=None
)


@contextlib.contextmanager
def reading_confs_once():
    """Inside the block each session's ``INFERENCE_CONFS`` are read
    once, not once per source: a conf read is a Py4J round trip, and
    a plan build does not change session confs."""
    token = _CONF_MEMO.set({})
    try:
        yield
    finally:
        _CONF_MEMO.reset(token)


def _inference_confs(spark: SparkSession) -> tuple:
    memo = _CONF_MEMO.get()
    if memo is not None and spark in memo:
        return memo[spark]
    values = tuple(spark.conf.get(c) for c in INFERENCE_CONFS)
    if memo is not None:
        memo[spark] = values
    return values


# Hadoop ``FileStatus.toString``: the fields the fingerprint keeps
_FILE_STATUS = re.compile(
    r"path=(.*?); isDirectory=\w+; length=(\d+);.*?modification_time=(-?\d+);"
)
# statuses fetched per Py4J call: a reply over ~8 KB stalls ~40 ms on
# TCP delayed ACK (measured), a batch of 8 stays under it for paths up
# to ~700 characters
_STATUS_BATCH = 8


def listed_files(df: DataFrame) -> Optional[tuple]:
    """(path, length, modification time) of every leaf file the file
    index behind ``df`` listed, in listing order: exactly the files
    its scan will read. None when ``df`` is not a plain file-index
    read (a DataSource V2 relation) or a status does not parse."""
    try:
        files = (
            df._jdf.queryExecution().analyzed().relation().location().allFiles()
        )
    except Py4JError:
        return None
    n = files.length()
    text = "\n".join(
        files.slice(i, i + _STATUS_BATCH).mkString("\n")
        for i in range(0, n, _STATUS_BATCH)
    )
    listed = tuple(m.groups() for m in _FILE_STATUS.finditer(text))
    return listed if len(listed) == n else None


class InferredSchemaCache:
    """Schemas Spark inferred for file sources of one SparkSession,
    so a re-read of an unchanged file set builds its relation with
    ``.schema(cached)`` and runs no schema-inference Spark job (a
    parquet footer read, the CSV header ``take(1)``, a full JSON
    scan) nor ORC's driver-side footer read.

    The key is the format, the path, every reader option and the
    ``INFERENCE_CONFS`` values. An entry holds the schema and the
    ``listed_files`` fingerprint of the relation it was inferred
    from. A hit builds the relation with the cached schema, which
    lists the path as any read does (and raises what any read raises
    while listing, such as PATH_NOT_FOUND), and returns it only if
    that listing has the same fingerprint. Otherwise the path is read
    again with inference, so the result and any error are those of
    an uncached read, and the entry is replaced. Blind spot: a
    rewrite that keeps a file's length and modification time (same
    millisecond) still hits; a declared schema has no such case.

    Bounded LRU; thread-safe, because the API server builds jobs on
    concurrent threads."""

    CAPACITY = 64

    def __init__(self):
        self._entries: collections.OrderedDict = collections.OrderedDict()
        self._lock = threading.Lock()

    def read(
        self, spark: SparkSession, fmt: str, path: str, options: dict
    ) -> DataFrame:
        key = (
            fmt,
            path,
            tuple(sorted((k, str(v)) for k, v in options.items())),
            _inference_confs(spark),
        )
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
        if entry is not None:
            schema, files = entry
            df = spark.read.format(fmt).options(**options).schema(schema).load(path)
            if listed_files(df) == files:
                return df
        df = spark.read.format(fmt).options(**options).load(path)
        files = listed_files(df)
        if files is not None:
            with self._lock:
                self._entries[key] = (df.schema, files)
                self._entries.move_to_end(key)
                while len(self._entries) > self.CAPACITY:
                    self._entries.popitem(last=False)
        return df


_SESSION_CACHES: "weakref.WeakKeyDictionary[SparkSession, InferredSchemaCache]" = (
    weakref.WeakKeyDictionary()
)
_SESSION_CACHES_LOCK = threading.Lock()


def inferred_schemas(spark: SparkSession) -> InferredSchemaCache:
    """The inferred-schema cache of ``spark``; it lives and dies with
    the session object, so a new session starts empty."""
    with _SESSION_CACHES_LOCK:
        cache = _SESSION_CACHES.get(spark)
        if cache is None:
            cache = _SESSION_CACHES[spark] = InferredSchemaCache()
        return cache


class SourceOperator(Operator):
    """No in-ports; produces one `out` DataFrame lazily."""

    in_ports: tuple[str, ...] = ()
    out_ports = ("out",)

    def __init__(self, spark: Optional[SparkSession] = None, **config) -> None:
        self.spark = spark
        super().__init__(**config)

    def _session(self) -> SparkSession:
        if self.spark is not None:
            return self.spark
        active = SparkSession.getActiveSession()
        if active is None:
            raise OperatorConfigError("no active SparkSession for source")
        return active

    def declared_schema(self):
        s = self.config.get("schema")
        if s is None:
            return None
        if isinstance(s, Schema):
            return s.to_struct_type()
        return Schema.from_dict(s).to_struct_type()

    def read_files(self, fmt: str, **options) -> DataFrame:
        """Read ``filepath`` as ``fmt`` with reader ``options``: with
        the declared schema if there is one, else through the
        session's ``InferredSchemaCache``."""
        spark = self._session()
        path = str(self.config["filepath"])
        schema = self.declared_schema()
        if schema is None:
            return inferred_schemas(spark).read(spark, fmt, path, options)
        return spark.read.format(fmt).options(**options).schema(schema).load(path)

    def apply(self, inputs: PortMap) -> PortMap:
        if inputs:
            raise OperatorConfigError("source takes no inputs")
        return {"out": self.read()}

    def read(self) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError


class SinkOperator(Operator):
    """One in-port; `apply` returns the input unchanged (for chaining
    / metrics) and `write` performs the terminal action."""

    in_ports = ("in",)
    out_ports = ("out",)
    #: True for a sink that runs DML against an external store, where
    #: one sink's write can change what another's does: the runner
    #: writes a job's DML sinks one after another, in config order
    dml = False

    def apply(self, inputs: PortMap) -> PortMap:
        df = self.single_input(inputs)
        self.write(df)
        return {"out": df}

    def write(self, df: DataFrame):  # pragma: no cover - abstract
        """Terminal action. MUST finish with a SQL (DataFrame)
        action, never a bare RDD action: the builder rides
        ``df.observe`` row counters on the plan, and an RDD action
        (``foreachPartition``) never fires the
        QueryExecutionListener, starving every upstream
        ``Observation.get`` forever. Per-partition imperative writes
        (DML, bulk wire protocols) go through ``run_partition_dml``."""
        raise NotImplementedError


def resize_partitions(df: DataFrame, n: int) -> DataFrame:
    """coalesce/repartition to exactly ``n`` output partitions;
    n == current skips the pure-cost same-layout shuffle."""
    n = max(1, int(n))
    current = df.rdd.getNumPartitions() or 1
    if n < current:
        return df.coalesce(n)
    if n > current:
        return df.repartition(n)
    return df


def plain_columnar_write(df: DataFrame, config: dict, fmt: str) -> None:
    """The shared sink tail for plain columnar formats (orc, and the
    no-sort path of parquet): optional ``num_files`` resize, write
    ``mode``, ``partition_by``, ``compression``. One implementation so
    sink knobs cannot drift between formats."""
    if config.get("num_files"):
        df = resize_partitions(df, int(config["num_files"]))
    writer = df.write.mode(config.get("mode", "overwrite"))
    if config.get("partition_by"):
        writer = writer.partitionBy(*config["partition_by"])
    if config.get("compression"):
        writer = writer.option("compression", config["compression"])
    writer.format(fmt).save(str(config["filepath"]))


def run_partition_dml(df: DataFrame, fn) -> None:
    """Execute ``fn(list_of_row_dicts)`` once per partition INSIDE a
    SQL action (``mapInArrow`` + noop write) instead of a bare RDD
    ``foreachPartition``.

    Load-bearing, not cosmetic: the runner and builder attach
    ``df.observe`` row counters to every live plan, and observations
    complete ONLY when a SQL (DataFrame) action finishes — an RDD
    action never fires the QueryExecutionListener, so every upstream
    ``Observation.get`` blocks forever (found live by
    ``tests/test_pg_live.py``'s runner job). Arrow also preserves
    nullable integers exactly, where a pandas hop would coerce them
    to float64/NaN and corrupt DML values.
    """
    import pyarrow as pa

    def gen(batches):
        rows: list[dict] = []
        for b in batches:
            rows.extend(b.to_pylist())
        if rows:
            fn(rows)
        yield pa.RecordBatch.from_pylist(
            [{"rows_written": len(rows)}],
            schema=pa.schema([("rows_written", pa.int64())]),
        )

    (
        df.mapInArrow(gen, "rows_written bigint")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
