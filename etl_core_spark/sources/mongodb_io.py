"""MongoDB source/sink.

Parity with the reference Mongo components
(``src/etl_core/components/databases/mongodb/mongodb_read.py`` →
``receivers/databases/mongodb/mongodb_receiver.py``):

- read: ``query_filter`` + ``sort/skip/limit``; projection derived
  from the declared out-port schema's leaf paths (mongodb_read.py:53-73)
  — here the projection AND filter compile into an aggregation
  pipeline pushed to the official Mongo Spark connector
  (``format("mongodb")``, partitioned by _id ranges). Fallback when
  the connector jar is absent: pymongo on the driver →
  ``createDataFrame`` (the reference's own single-node shape).
- write: insert/truncate via the connector; upsert/update via
  ``base_io.run_partition_dml`` + pymongo ``UpdateOne($set)`` bulk_write with
  ``key_fields`` / ``match_filter`` / ``update_fields`` / ``ordered``
  (receiver:91-133, 260-422).

Neither the connector jar nor a live Mongo exist in this container —
tests cover pipeline/projection compilation; paths run unchanged on a
cluster with the connector on the classpath.
"""

from __future__ import annotations

import json
import logging
from typing import Any

from pyspark.sql import DataFrame

from etl_core_spark.operators.base import OperatorConfigError, register_operator
from etl_core_spark.schema import Schema
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator


def build_pipeline(
    query_filter: dict | None,
    sort: list[tuple[str, int]] | None,
    skip: int | None,
    limit: int | None,
    projection_paths: list[str] | None,
) -> list[dict[str, Any]]:
    """Compile reference-shaped read config to a Mongo aggregation
    pipeline (pushed down by the Spark connector)."""
    pipeline: list[dict[str, Any]] = []
    if query_filter:
        pipeline.append({"$match": query_filter})
    if sort:
        pipeline.append({"$sort": {field: direction for field, direction in sort}})
    if skip:
        pipeline.append({"$skip": int(skip)})
    if limit:
        pipeline.append({"$limit": int(limit)})
    if projection_paths:
        pipeline.append({"$project": {p: 1 for p in projection_paths}})
    return pipeline


def _connector_absent(exc: BaseException) -> bool:
    """True iff the failure signature means the mongo-spark connector
    jar is not on the classpath (Spark's DATA_SOURCE_NOT_FOUND /
    ClassNotFoundException shapes), as opposed to a connection, auth,
    or pipeline error that must propagate."""
    msg = f"{type(exc).__name__}: {exc}"
    return any(
        sig in msg
        for sig in (
            "DATA_SOURCE_NOT_FOUND",
            "Failed to find data source",
            "Failed to find the data source",
            "ClassNotFoundException",
        )
    )


@register_operator("read_mongodb")
class ReadMongodb(SourceOperator):
    def validate_config(self) -> None:
        for key in ("database", "collection"):
            if key not in self.config:
                raise OperatorConfigError(f"read_mongodb requires {key!r}")

    def pipeline(self) -> list[dict[str, Any]]:
        c = self.config
        projection = None
        if c.get("schema") is not None:
            s = c["schema"]
            projection = (s if isinstance(s, Schema) else Schema.from_dict(s)).leaf_paths()
        return build_pipeline(
            c.get("query_filter"), c.get("sort"), c.get("skip"), c.get("limit"), projection
        )

    def read(self) -> DataFrame:
        spark = self._session()
        try:
            return self._connector_read(spark)
        except Exception as exc:
            # only connector-absence engages the driver-side fallback;
            # auth/pipeline/server errors must surface, and a healthy
            # connector must never be silently bypassed by a
            # driver-collecting path
            if not _connector_absent(exc):
                raise
            logging.getLogger(__name__).warning(
                "mongo-spark connector not on the classpath; falling back "
                "to a driver-side pymongo read (single-node, collects the "
                "result on the driver)"
            )
            return self._fallback_read(spark)

    def _connector_read(self, spark) -> DataFrame:
        c = self.config
        reader = (
            spark.read.format("mongodb")
            .option("connection.uri", c.get("uri", "mongodb://localhost:27017"))
            .option("database", c["database"])
            .option("collection", c["collection"])
            .option("aggregation.pipeline", json.dumps(self.pipeline()))
        )
        schema = self.declared_schema()
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load()
        df.schema
        return df

    def _fallback_read(self, spark) -> DataFrame:
        try:
            import pymongo  # type: ignore
        except ImportError as exc:
            raise OperatorConfigError(
                "read_mongodb needs the mongo-spark connector jar or pymongo"
            ) from exc
        c = self.config
        client = pymongo.MongoClient(c.get("uri", "mongodb://localhost:27017"))
        docs = list(
            client[c["database"]][c["collection"]].aggregate(self.pipeline() or [{"$match": {}}])
        )
        for d in docs:
            d.pop("_id", None)
        schema = self.declared_schema()
        if schema is not None:
            return spark.createDataFrame(docs, schema)
        if not docs:
            # a legitimate empty source (empty collection / filter
            # matching nothing) must yield an empty DataFrame, not a
            # 'can not infer schema from empty dataset' crash
            from pyspark.sql import types as T

            return spark.createDataFrame([], T.StructType([]))
        return spark.createDataFrame(docs)


@register_operator("write_mongodb")
class WriteMongodb(SinkOperator):
    dml = True

    def validate_config(self) -> None:
        for key in ("database", "collection"):
            if key not in self.config:
                raise OperatorConfigError(f"write_mongodb requires {key!r}")
        op = self.config.get("operation", "insert")
        if op not in ("insert", "truncate", "upsert", "update"):
            raise OperatorConfigError(f"unknown mongo operation {op!r}")
        if op == "upsert" and not self.config.get("key_fields"):
            raise OperatorConfigError("mongo upsert requires 'key_fields'")
        if op == "update" and not self.config.get("match_filter"):
            # an absent filter would make EVERY row issue
            # UpdateOne({}, $set) — each one silently rewriting the
            # first arbitrary document Mongo matches (the JDBC twin
            # requires where_columns for the same reason)
            raise OperatorConfigError("mongo update requires 'match_filter'")

    def write(self, df: DataFrame) -> None:
        c = self.config
        op = c.get("operation", "insert")
        if op in ("insert", "truncate"):
            (
                df.write.format("mongodb")
                .mode("overwrite" if op == "truncate" else "append")
                .option("connection.uri", c.get("uri", "mongodb://localhost:27017"))
                .option("database", c["database"])
                .option("collection", c["collection"])
                .save()
            )
            return

        uri = c.get("uri", "mongodb://localhost:27017")
        database, collection = c["database"], c["collection"]
        key_fields = c.get("key_fields") or []
        match_filter = c.get("match_filter") or {}
        update_fields = c.get("update_fields")
        ordered = bool(c.get("ordered", False))
        is_upsert = op == "upsert"

        def run_partition(rows) -> None:
            _execute_mongo_partition(
                rows, uri, database, collection, is_upsert,
                key_fields, match_filter, update_fields, ordered,
            )

        from etl_core_spark.sources.base_io import run_partition_dml

        run_partition_dml(df, run_partition)


def _execute_mongo_partition(
    rows,
    uri: str,
    database: str,
    collection: str,
    is_upsert: bool,
    key_fields,
    match_filter,
    update_fields,
    ordered: bool,
    batch_size: int = 1000,
) -> None:
    """Executed on executors: batched ``UpdateOne($set)`` bulk writes
    (reference ``mongodb_receiver.py:91-133,260-422``). Module-level
    so the wire logic is unit-testable without a live server."""
    import pymongo

    client = pymongo.MongoClient(uri)
    try:
        coll = client[database][collection]
        ops = []
        for row in rows:
            d = row.asDict(recursive=True) if hasattr(row, "asDict") else dict(row)
            flt = {k: d[k] for k in key_fields} if is_upsert else dict(match_filter)
            update = {k: d[k] for k in (update_fields or d.keys())}
            ops.append(pymongo.UpdateOne(flt, {"$set": update}, upsert=is_upsert))
            if len(ops) >= batch_size:
                coll.bulk_write(ops, ordered=ordered)
                ops = []
        if ops:
            coll.bulk_write(ops, ordered=ordered)
    finally:
        client.close()
