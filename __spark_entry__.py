"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the beyond-reference training-data operators);
``oracle_sql()`` gives the DuckDB-equivalent SQL for each. Column
names and float rounding are aligned on both sides because the driver
hash-compares values after sorting columns by name.

Cross-engine determinism rules used throughout:
- every computed column is aliased identically in Spark and SQL;
- float *aggregates* are rounded (sums→2dp, means/ratios→6dp) since
  distributed summation order differs between engines;
- hashes use md5 (bit-identical in Spark and DuckDB), so dedup /
  MinHash / SimHash signatures cross-check exactly;
- top-k queries order by (rounded metric, unique key) so tie-breaks
  are engine-independent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"




import atexit
import shutil
import tempfile

#: all scratch output for the roundtrip/layout queries lives under ONE
#: per-process temp root removed at interpreter exit — per-call
#: mkdtemp leaked a directory (with a full partitioned orders copy)
#: on every suite run of this shared host
_TMP_ROOT = tempfile.mkdtemp(prefix="spark_entry_scratch_")
atexit.register(shutil.rmtree, _TMP_ROOT, True)


def _scratch_dir(tag: str) -> str:
    import os as _os
    import uuid as _uuid

    path = f"{_TMP_ROOT}/{tag}_{_uuid.uuid4().hex[:8]}"
    _os.makedirs(path, exist_ok=True)
    return path


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from etl_core_spark.tables import load_table

    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# DuckDB SQL fragments (kept in sync with etl_core_spark.functions.text)
# --------------------------------------------------------------------------

_TOKS = (
    "CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)


def _shingles_sql(n: int) -> str:
    return (
        f"CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE "
        f"list_transform(range(1, greatest(len(toks) - {n} + 1, 1) + 1), "
        f"i -> array_to_string(list_slice(toks, i, i + {n} - 1), ' ')) END"
    )


# --------------------------------------------------------------------------
# §2.2 filter (rule tree → pass/fail ports)
# --------------------------------------------------------------------------

_FILTER_RULE = {
    "operator": "AND",
    "rules": [
        {"column": "o_totalprice", "operator": ">", "value": 150000.0},
        {
            "operator": "OR",
            "rules": [
                {"column": "o_orderpriority", "operator": "contains", "value": "urgent"},
                {"column": "o_orderstatus", "operator": "==", "value": ["O", "P"]},
            ],
        },
    ],
}


def _filter_port(port: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from etl_core_spark.operators.base import get_operator

        orders = _t(spark, sf_dir, "orders")
        out = get_operator("filter")(rule=_FILTER_RULE).apply({"in": orders})
        return out[port].select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )

    return q


def _filter_sql(negate: bool) -> str:
    from etl_core_spark.functions.rules import rule_from_dict, rule_to_sql

    cond = rule_to_sql(rule_from_dict(_FILTER_RULE))
    wrapped = f"COALESCE({cond}, FALSE)"
    if negate:
        wrapped = f"NOT {wrapped}"
    return (
        "SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice "
        f"FROM orders WHERE {wrapped}"
    )


# --------------------------------------------------------------------------
# §2.4 aggregation (all reference ops)
# --------------------------------------------------------------------------

def q_agg_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    out = get_operator("aggregation")(
        group_by=["l_returnflag"],
        aggregations=[
            {"src": "*", "op": "count", "dest": "n_rows"},
            {"src": "l_quantity", "op": "sum", "dest": "sum_qty"},
            {"src": "l_quantity", "op": "min", "dest": "min_qty"},
            {"src": "l_quantity", "op": "max", "dest": "max_qty"},
            {"src": "l_quantity", "op": "mean", "dest": "avg_qty"},
            {"src": "l_quantity", "op": "median", "dest": "med_qty"},
            {"src": "l_quantity", "op": "std", "dest": "std_qty"},
            {"src": "l_partkey", "op": "nunique", "dest": "n_parts"},
        ],
    ).apply({"in": li})["out"]
    return out.select(
        "l_returnflag",
        "n_rows",
        F.round("sum_qty", 2).alias("sum_qty"),
        "min_qty",
        "max_qty",
        F.round("avg_qty", 6).alias("avg_qty"),
        F.round("med_qty", 6).alias("med_qty"),
        F.round("std_qty", 6).alias("std_qty"),
        "n_parts",
    )


_SQL_AGG_OPS = """
SELECT l_returnflag,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       round(avg(l_quantity), 6) AS avg_qty,
       round(median(l_quantity), 6) AS med_qty,
       round(stddev_samp(l_quantity), 6) AS std_qty,
       count(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    out = get_operator("aggregation")(
        group_by=[],
        aggregations=[
            {"src": "*", "op": "count", "dest": "n_orders"},
            {"src": "o_totalprice", "op": "sum", "dest": "sum_price"},
            {"src": "o_totalprice", "op": "mean", "dest": "avg_price"},
            {"src": "o_custkey", "op": "nunique", "dest": "n_customers"},
        ],
    ).apply({"in": orders})["out"]
    return out.select(
        "n_orders",
        F.round("sum_price", 2).alias("sum_price"),
        F.round("avg_price", 6).alias("avg_price"),
        "n_customers",
    )


_SQL_AGG_GLOBAL = """
SELECT count(*) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price,
       round(avg(o_totalprice), 6) AS avg_price,
       count(DISTINCT o_custkey) AS n_customers
FROM orders
"""


# --------------------------------------------------------------------------
# TPC-H-shaped pipelines (filter + join plan + aggregation operators)
# --------------------------------------------------------------------------

def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    li = li.withColumn(
        "disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).withColumn(
        "charge",
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
    )
    out = get_operator("aggregation")(
        group_by=["l_returnflag", "l_linestatus"],
        aggregations=[
            {"src": "l_quantity", "op": "sum", "dest": "sum_qty"},
            {"src": "l_extendedprice", "op": "sum", "dest": "sum_base_price"},
            {"src": "disc_price", "op": "sum", "dest": "sum_disc_price"},
            {"src": "charge", "op": "sum", "dest": "sum_charge"},
            {"src": "l_quantity", "op": "mean", "dest": "avg_qty"},
            {"src": "l_extendedprice", "op": "mean", "dest": "avg_price"},
            {"src": "l_discount", "op": "mean", "dest": "avg_disc"},
            {"src": "*", "op": "count", "dest": "count_order"},
        ],
    ).apply({"in": li})["out"]
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        F.round("sum_charge", 2).alias("sum_charge"),
        F.round("avg_qty", 6).alias("avg_qty"),
        F.round("avg_price", 6).alias("avg_price"),
        F.round("avg_disc", 6).alias("avg_disc"),
        "count_order",
    )


_SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.schema_mapping import SchemaMappingOperator

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1999-06-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1999-06-15")
    op: SchemaMappingOperator = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {
                    "left_port": "orders", "right_port": "customer",
                    "left_on": "o_custkey", "right_on": "c_custkey",
                    "how": "inner", "output_port": "oc", "broadcast": True,
                },
                {
                    "left_port": "lineitem", "right_port": "oc",
                    "left_on": "l_orderkey", "right_on": "o_orderkey",
                    "how": "inner", "output_port": "locs",
                },
            ]
        }
    )
    joined = op.apply({"orders": orders, "customer": cust, "lineitem": li})["locs"]
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_SQL_Q3 = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-06-01'
  AND l_shipdate > TIMESTAMP '1999-06-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")

    op = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "nation", "right_port": "region",
                 "left_on": "n_regionkey", "right_on": "r_regionkey",
                 "how": "inner", "output_port": "nr", "broadcast": True},
                {"left_port": "customer", "right_port": "nr",
                 "left_on": "c_nationkey", "right_on": "n_nationkey",
                 "how": "inner", "output_port": "cnr", "broadcast": True},
                {"left_port": "orders", "right_port": "cnr",
                 "left_on": "o_custkey", "right_on": "c_custkey",
                 "how": "inner", "output_port": "ocnr"},
                {"left_port": "lineitem", "right_port": "ocnr",
                 "left_on": "l_orderkey", "right_on": "o_orderkey",
                 "how": "inner", "output_port": "locnr"},
                {"left_port": "locnr", "right_port": "supplier",
                 "left_on": "l_suppkey", "right_on": "s_suppkey",
                 "how": "inner", "output_port": "all", "broadcast": True},
            ]
        }
    )
    joined = op.apply(
        {"nation": nation, "region": region, "customer": customer,
         "orders": orders, "lineitem": li, "supplier": supplier}
    )["all"]
    return (
        joined.filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_SQL_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_json_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_expand operator (operators/json_ops.py): declared typed
    columns from the props JSON string via ONE staged from_json parse
    (plan-pinned in tests/test_plans_quality.py)."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("json_expand")(
        json_col="props", fields=[{"name": "k", "data_type": "integer"}]
    ).apply({"in": ev})["out"]
    return out.select("event_id", "event_type", "k")


_SQL_JSON_EXPAND = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zscore_outliers operator (operators/timeseries.py): per-group
    stats broadcast back onto the stream — no Window sort over the
    big side."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("zscore_outliers")(
        value_col="value", group_cols=["event_type"], threshold=2.5
    ).apply({"in": ev})["out"]
    return out.select("event_id", "event_type", "zscore", "is_outlier", "mean", "std")


_SQL_ZSCORE = """
WITH s AS (
  SELECT event_type, avg(value) AS m, stddev(value) AS sd
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       round(CASE WHEN sd IS NOT NULL AND sd > 0
                  THEN (value - m) / sd ELSE 0.0 END, 6) AS zscore,
       COALESCE(abs(round(CASE WHEN sd IS NOT NULL AND sd > 0
                      THEN (value - m) / sd ELSE 0.0 END, 6)) > 2.5,
                FALSE) AS is_outlier,
       round(m, 6) AS mean, round(sd, 6) AS std
FROM events e JOIN s ON e.event_type IS NOT DISTINCT FROM s.event_type
"""


def q_densify_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """densify_buckets operator (operators/timeseries.py): hourly
    per-type event counts with every gap hour materialized at 0 —
    the spine comes from a tiny per-key span aggregate exploded via
    sequence(), proportional to the OUTPUT not the input."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", F.col("ts"))
    )
    out = get_operator("densify_buckets")(
        key_cols=["event_type"], bucket_col="bucket", step="INTERVAL 1 HOUR",
        agg_cols={"n": "count:*", "total": "sum:value"},
    ).apply({"in": ev})["out"]
    return out.select("event_type", "bucket", "n", "total")


_SQL_DENSIFY = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         count(*) AS n, round(sum(value), 6) AS total
  FROM events GROUP BY event_type, bucket
), s AS (
  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY event_type
), spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM s
)
SELECT spine.event_type, spine.bucket,
       coalesce(n, 0) AS n, coalesce(total, 0.0) AS total
FROM spine LEFT JOIN b USING (event_type, bucket)
"""


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analog of the watermarked stream-stream attribution join
    (streaming/stream.py attribution_join): every (view, purchase)
    pair for the same user with the view in the hour before the
    purchase. The streaming form is the same code path with
    watermarks bounding join state; the e2e stream test lives in
    tests/test_streaming_state.py."""
    from etl_core_spark.streaming.stream import attribution_join

    ev = _t(spark, sf_dir, "events")
    return attribution_join(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
    )


_SQL_ATTRIBUTION_JOIN = """
WITH v AS (
  SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id AS user_id, view_ts, purchase_ts,
       CAST(floor(epoch(purchase_ts)) - floor(epoch(view_ts)) AS BIGINT) AS lag_seconds
FROM v JOIN p ON v.user_id = p.user_id
 AND view_ts <= purchase_ts
 AND view_ts >= purchase_ts - INTERVAL 1 HOUR
"""

# streaming_attribution certifies on the 1-in-4 user panel (see
# q_streaming_attribution) — same join, panel-filtered both sides
_SQL_STREAMING_ATTRIBUTION = _SQL_ATTRIBUTION_JOIN.replace(
    "WHERE event_type = 'view'",
    "WHERE event_type = 'view' AND user_id % 4 = 0",
).replace(
    "WHERE event_type = 'purchase'",
    "WHERE event_type = 'purchase' AND user_id % 4 = 0",
)


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-batch equality for the watermarked STREAM-STREAM
    interval join (streaming/stream.py attribution_join): views and
    purchases run as two REAL availableNow file streams; inner-join
    matches emit as soon as both sides arrive, so a single data
    micro-batch per side yields exactly the batch attribution answer
    — the oracle is _SQL_ATTRIBUTION_JOIN over the same 1-in-4 user
    panel (VERDICT r10 #5: the certified thing is the two-stream
    join's state shape, not corpus size). Completes the streaming
    certification matrix: state store, event-time timers, windowed
    aggregate, dedup state, and the two-stream join.
    (Event time casts to ltz for the watermark; the UTC session
    makes the instants — and lag arithmetic — identical.)"""
    import os
    import shutil
    import tempfile

    from etl_core_spark.streaming.stream import attribution_join

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") % 4 == 0)
        .select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="stream_attr_", dir=shm)
    try:
        v_src = os.path.join(work, "views")
        p_src = os.path.join(work, "purchases")
        ev.where(F.col("event_type") == "view").select(
            "user_id", "ts"
        ).write.parquet(v_src)
        ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts"
        ).write.parquet(p_src)
        schema = "user_id long, ts timestamp"
        vs = spark.readStream.schema(schema).parquet(v_src)
        ps = spark.readStream.schema(schema).parquet(p_src)
        joined = attribution_join(vs, ps)
        out_dir = os.path.join(work, "out")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
            q = (
                joined.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        rows = (
            spark.read.parquet(out_dir)
            .select(
                "user_id",
                F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
                F.col("purchase_ts").cast("timestamp_ntz").alias(
                    "purchase_ts"
                ),
                "lag_seconds",
            )
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, view_ts timestamp_ntz, "
        "purchase_ts timestamp_ntz, lag_seconds long",
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group: Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear-
    interpolation definition, so the values match to the last bit
    (rounded 6dp for float hygiene). At 100 TB exact percentile sorts
    per group; the operator-level alternative is approx_percentile
    (already exposed via the aggregation operator sketches)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


_SQL_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: bilateral trade volume between two nations by
    ship year. Five-step join plan through the schema_mapping
    operator (nation dims broadcast); the nation-pair predicate is an
    OR-of-ANDs rule tree through the filter operator."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "lineitem", "right_port": "supplier",
                 "left_on": "l_suppkey", "right_on": "s_suppkey",
                 "how": "inner", "output_port": "ls", "broadcast": True},
                {"left_port": "ls", "right_port": "orders",
                 "left_on": "l_orderkey", "right_on": "o_orderkey",
                 "how": "inner", "output_port": "lso"},
                {"left_port": "lso", "right_port": "customer",
                 "left_on": "o_custkey", "right_on": "c_custkey",
                 "how": "inner", "output_port": "lsoc", "broadcast": True},
                {"left_port": "lsoc", "right_port": "n1",
                 "left_on": "s_nationkey", "right_on": "s_nk",
                 "how": "inner", "output_port": "j1", "broadcast": True},
                {"left_port": "j1", "right_port": "n2",
                 "left_on": "c_nationkey", "right_on": "c_nk",
                 "how": "inner", "output_port": "j2", "broadcast": True},
            ]
        }
    ).apply({"lineitem": li, "supplier": sup, "orders": orders,
             "customer": cust, "n1": n1, "n2": n2})["j2"]
    pair_rule = {
        "operator": "OR",
        "rules": [
            {"operator": "AND", "rules": [
                {"column": "supp_nation", "operator": "==", "value": "NATION_1"},
                {"column": "cust_nation", "operator": "==", "value": "NATION_2"},
            ]},
            {"operator": "AND", "rules": [
                {"column": "supp_nation", "operator": "==", "value": "NATION_2"},
                {"column": "cust_nation", "operator": "==", "value": "NATION_1"},
            ]},
        ],
    }
    filtered = get_operator("filter")(rule=pair_rule).apply({"in": joined})["pass"]
    return (
        filtered.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_SQL_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
"""


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (no partsupp table in the testdata, so profit
    = revenue): per supplier-nation, per ship year, revenue on
    ECONOMY-type parts. Part filter via the filter operator, joins
    via schema_mapping."""
    from etl_core_spark.operators.base import get_operator

    part = get_operator("filter")(
        rule={"column": "p_type", "operator": "==", "value": "ECONOMY"}
    ).apply({"in": _t(spark, sf_dir, "part")})["pass"]
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "lineitem", "right_port": "part",
                 "left_on": "l_partkey", "right_on": "p_partkey",
                 "how": "inner", "output_port": "lp", "broadcast": True},
                {"left_port": "lp", "right_port": "supplier",
                 "left_on": "l_suppkey", "right_on": "s_suppkey",
                 "how": "inner", "output_port": "lps", "broadcast": True},
                {"left_port": "lps", "right_port": "nation",
                 "left_on": "s_nationkey", "right_on": "n_nationkey",
                 "how": "inner", "output_port": "lpsn", "broadcast": True},
            ]
        }
    ).apply({"lineitem": li, "part": part, "supplier": sup, "nation": nation})["lpsn"]
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
    )


_SQL_Q9 = """
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY n_name, l_year
"""


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: top-20 customers by revenue lost to returns
    (l_returnflag = 'R'); deterministic tiebreak on c_custkey."""
    from etl_core_spark.operators.base import get_operator

    li = get_operator("filter")(
        rule={"column": "l_returnflag", "operator": "==", "value": "R"}
    ).apply({"in": _t(spark, sf_dir, "lineitem")})["pass"]
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "lineitem", "right_port": "orders",
                 "left_on": "l_orderkey", "right_on": "o_orderkey",
                 "how": "inner", "output_port": "lo"},
                {"left_port": "lo", "right_port": "customer",
                 "left_on": "o_custkey", "right_on": "c_custkey",
                 "how": "inner", "output_port": "loc", "broadcast": True},
                {"left_port": "loc", "right_port": "nation",
                 "left_on": "c_nationkey", "right_on": "n_nationkey",
                 "how": "inner", "output_port": "locn", "broadcast": True},
            ]
        }
    ).apply({"lineitem": li, "orders": orders, "customer": cust, "nation": nation})["locn"]
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_SQL_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog (testdata has no commit/receipt dates, so the
    EXISTS predicate is 'order has a returned line'): order counts per
    priority for orders in 1996 that contain at least one returned
    lineitem. The EXISTS correlates via a semi join step in the
    schema_mapping operator — no duplicate inflation, lineitem columns
    never surface."""
    from etl_core_spark.operators.base import get_operator

    returned = get_operator("filter")(
        rule={"column": "l_returnflag", "operator": "==", "value": "R"}
    ).apply({"in": _t(spark, sf_dir, "lineitem")})["pass"]
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    semi = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "orders", "right_port": "returned",
                 "left_on": "o_orderkey", "right_on": "l_orderkey",
                 "how": "semi", "output_port": "out"},
            ]
        }
    ).apply({"orders": orders, "returned": returned})["out"]
    return (
        get_operator("aggregation")(
            group_by=["o_orderpriority"],
            aggregations=[{"src": "*", "op": "count", "dest": "order_count"}],
        )
        .apply({"in": semi})["out"]
    )


_SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: single-table filter + global aggregate. The
    discount/quantity band is a rule tree through the filter operator
    (plan-checked elsewhere to reach the parquet scan as PushedFilters);
    revenue = sum(extendedprice * discount) via the aggregation
    operator on a derived column."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    band = get_operator("filter")(
        rule={
            "operator": "AND",
            "rules": [
                {"column": "l_discount", "operator": ">=", "value": 0.03},
                {"column": "l_discount", "operator": "<=", "value": 0.07},
                {"column": "l_quantity", "operator": "<", "value": 24.0},
            ],
        }
    ).apply({"in": li})["pass"]
    derived = band.withColumn(
        "__rev", F.col("l_extendedprice") * F.col("l_discount")
    )
    out = get_operator("aggregation")(
        group_by=[],
        aggregations=[{"src": "__rev", "op": "sum", "dest": "revenue"}],
    ).apply({"in": derived})["out"]
    return out.select(F.round("revenue", 2).alias("revenue"))


_SQL_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24.0
"""


def q_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog (no l_shipmode column; grouped by
    l_linestatus): high- vs low-priority order-line counts per line
    status — the CASE-conditional aggregate pattern. Flags are narrow
    projections; sums are map-side combinable through the aggregation
    operator."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "lineitem", "right_port": "orders",
                 "left_on": "l_orderkey", "right_on": "o_orderkey",
                 "how": "inner", "output_port": "out"},
            ]
        }
    ).apply({"lineitem": li, "orders": orders})["out"]
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    flagged = joined.select(
        "l_linestatus",
        F.when(high, F.lit(1)).otherwise(F.lit(0)).alias("__high"),
        F.when(~high, F.lit(1)).otherwise(F.lit(0)).alias("__low"),
    )
    return (
        get_operator("aggregation")(
            group_by=["l_linestatus"],
            aggregations=[
                {"src": "__high", "op": "sum", "dest": "high_line_count"},
                {"src": "__low", "op": "sum", "dest": "low_line_count"},
            ],
        )
        .apply({"in": flagged})["out"]
    )


_SQL_Q12 = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
"""


def q_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog ('PROMO%' prefix → the flat ECONOMY type):
    percentage of one month's revenue from ECONOMY parts. Part dim is
    broadcast; the conditional numerator and total are two sums in ONE
    aggregation pass (not two scans)."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    part = _t(spark, sf_dir, "part")
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "lineitem", "right_port": "part",
                 "left_on": "l_partkey", "right_on": "p_partkey",
                 "how": "inner", "output_port": "out", "broadcast": True},
            ]
        }
    ).apply({"lineitem": li, "part": part})["out"]
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    derived = joined.select(
        F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0)).alias("__promo"),
        rev.alias("__rev"),
    )
    out = get_operator("aggregation")(
        group_by=[],
        aggregations=[
            {"src": "__promo", "op": "sum", "dest": "promo"},
            {"src": "__rev", "op": "sum", "dest": "total"},
        ],
    ).apply({"in": derived})["out"]
    return out.select(
        F.round(F.lit(100.0) * F.col("promo") / F.col("total"), 6).alias("promo_pct")
    )


_SQL_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog: customers with orders totalling > 250 units.
    HAVING is expressed as the filter operator applied to the
    aggregation operator's output (the engine's composition story for
    post-aggregate predicates). The surviving keyset (~1% of orders)
    is NOT hint-broadcast — it scales with the fact table, so the
    join is left to AQE, which converts to broadcast at runtime
    whenever the filtered aggregate turns out small; only the
    customer dim carries an explicit hint."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    sums = get_operator("aggregation")(
        group_by=["l_orderkey"],
        aggregations=[{"src": "l_quantity", "op": "sum", "dest": "sum_qty"}],
    ).apply({"in": li})["out"]
    big = get_operator("filter")(
        rule={"column": "sum_qty", "operator": ">", "value": 250.0}
    ).apply({"in": sums})["pass"]
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "orders", "right_port": "big",
                 "left_on": "o_orderkey", "right_on": "l_orderkey",
                 "how": "inner", "output_port": "ob"},
                {"left_port": "ob", "right_port": "customer",
                 "left_on": "o_custkey", "right_on": "c_custkey",
                 "how": "inner", "output_port": "out", "broadcast": True},
            ]
        }
    ).apply({"orders": orders, "big": big, "customer": cust})["out"]
    return (
        joined.select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


_SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, round(sum_qty, 2) AS sum_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: revenue under an OR-of-ANDs predicate mixing
    part attributes (brand, size band) and lineitem attributes
    (quantity band) — the disjunctive-pushdown stress case, expressed
    as one rule tree through the filter operator AFTER the broadcast
    join (each disjunct spans both tables, so it cannot be pushed to
    either scan alone; Catalyst still derives the per-scan residuals)."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "lineitem", "right_port": "part",
                 "left_on": "l_partkey", "right_on": "p_partkey",
                 "how": "inner", "output_port": "out", "broadcast": True},
            ]
        }
    ).apply({"lineitem": li, "part": part})["out"]
    rule = {
        "operator": "OR",
        "rules": [
            {"operator": "AND", "rules": [
                {"column": "p_brand", "operator": "==", "value": "Brand#1"},
                {"column": "p_size", "operator": ">=", "value": 1},
                {"column": "p_size", "operator": "<=", "value": 15},
                {"column": "l_quantity", "operator": ">=", "value": 1.0},
                {"column": "l_quantity", "operator": "<=", "value": 20.0},
            ]},
            {"operator": "AND", "rules": [
                {"column": "p_brand", "operator": "==", "value": "Brand#3"},
                {"column": "p_size", "operator": ">=", "value": 10},
                {"column": "p_size", "operator": "<=", "value": 30},
                {"column": "l_quantity", "operator": ">=", "value": 10.0},
                {"column": "l_quantity", "operator": "<=", "value": 35.0},
            ]},
        ],
    }
    hit = get_operator("filter")(rule=rule).apply({"in": joined})["pass"]
    derived = hit.withColumn(
        "__rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    out = get_operator("aggregation")(
        group_by=[],
        aggregations=[{"src": "__rev", "op": "sum", "dest": "revenue"}],
    ).apply({"in": derived})["out"]
    return out.select(F.round("revenue", 2).alias("revenue"))


_SQL_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size >= 1 AND p_size <= 15
       AND l_quantity >= 1.0 AND l_quantity <= 20.0)
   OR (p_brand = 'Brand#3' AND p_size >= 10 AND p_size <= 30
       AND l_quantity >= 10.0 AND l_quantity <= 35.0)
"""


def q_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: above-average-balance customers with no
    orders since 1999, per market segment. The scalar subquery (global
    average balance) is a one-row aggregate broadcast-cross-joined
    into the customer scan — no driver-side collect, no eager job at
    plan construction — and NOT EXISTS is an anti-join step."""
    from etl_core_spark.operators.base import get_operator

    cust = _t(spark, sf_dir, "customer")
    pos = get_operator("filter")(
        rule={"column": "c_acctbal", "operator": ">", "value": 0.0}
    ).apply({"in": cust})["pass"]
    avg_bal = get_operator("aggregation")(
        group_by=[],
        aggregations=[{"src": "c_acctbal", "op": "mean", "dest": "__avg_bal"}],
    ).apply({"in": pos})["out"]
    rich = (
        cust.crossJoin(F.broadcast(avg_bal))
        # threshold rounded to cents on BOTH sides: the avg is a
        # distributed float sum that differs from DuckDB's by ulps,
        # and a balance exactly at the boundary must not flip engines
        .where(F.col("c_acctbal") > F.round("__avg_bal", 2))
        .drop("__avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1999-01-01")
    idle = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "rich", "right_port": "recent",
                 "left_on": "c_custkey", "right_on": "o_custkey",
                 "how": "anti", "output_port": "out"},
            ]
        }
    ).apply({"rich": rich, "recent": recent})["out"]
    out = get_operator("aggregation")(
        group_by=["c_mktsegment"],
        aggregations=[
            {"src": "*", "op": "count", "dest": "n_cust"},
            {"src": "c_acctbal", "op": "sum", "dest": "total_bal"},
        ],
    ).apply({"in": idle})["out"]
    return out.select(
        "c_mktsegment", "n_cust", F.round("total_bal", 2).alias("total_bal")
    )


_SQL_Q22 = """
SELECT c_mktsegment, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# TPC-H analog batch 2 (q2/q8/q11/q13/q15/q16/q17/q20/q21) — the
# correlated-subquery family, re-expressed as broadcast scalar
# aggregates, min-per-group join-backs, and semi/anti steps. The
# testdata has no partsupp table and no comment/commitdate columns, so
# the partsupp-based originals are re-based on lineitem as the
# part-supplier relation (documented per query).
# ---------------------------------------------------------------------------


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog (no partsupp table: lineitem is the
    part-supplier relation; unit price = extendedprice/quantity is the
    supply cost). For small STANDARD parts, the supplier(s) offering
    the minimum unit price. The correlated MIN subquery is a
    min-per-group aggregate joined back on EQUALITY of the rounded
    unit price — division of doubles is deterministic IEEE, and min
    picks an existing value, so the equality join is exact across
    engines (no accumulated float drift)."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    sup = _t(spark, sf_dir, "supplier")
    offers = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            "p_partkey", "p_brand", "l_suppkey",
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("__unit"),
        )
    )
    per_supp = get_operator("aggregation")(
        group_by=["p_partkey", "p_brand", "l_suppkey"],
        aggregations=[{"src": "__unit", "op": "min", "dest": "supply_cost"}],
    ).apply({"in": offers})["out"]
    best = get_operator("aggregation")(
        group_by=["p_partkey"],
        aggregations=[{"src": "supply_cost", "op": "min", "dest": "__best"}],
    ).apply({"in": per_supp})["out"]
    return (
        per_supp.join(best, on="p_partkey")
        .where(F.col("supply_cost") == F.col("__best"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_name", "supply_cost")
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


_SQL_Q2 = """
WITH offers AS (
  SELECT p_partkey, p_brand, l_suppkey,
         min(round(l_extendedprice / l_quantity, 6)) AS supply_cost
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'STANDARD' AND p_size <= 10
  GROUP BY p_partkey, p_brand, l_suppkey
)
SELECT o.p_partkey, o.p_brand, s.s_name, o.supply_cost
FROM offers o JOIN supplier s ON o.l_suppkey = s.s_suppkey
WHERE o.supply_cost = (SELECT min(supply_cost) FROM offers i
                       WHERE i.p_partkey = o.p_partkey)
ORDER BY o.p_partkey, s.s_name
LIMIT 100
"""


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: NATION_7's share of EUROPE's ECONOMY-part
    revenue by order year. Fact side stays one pass: part / customer /
    supplier / nation / region dims join onto lineitem x orders with
    NO explicit broadcast hints — the dims are parquet scans whose
    sizes the optimizer knows, so it auto-broadcasts under the
    threshold and degrades to shuffle joins gracefully when a dim
    outgrows it at high SF (an explicit hint would bypass that gate).
    ONE conditional-sum aggregation computes numerator and
    denominator together (never two scans)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cust_nat = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_nationkey").alias("__cn"))
    sup_nat = nation.select(
        F.col("n_nationkey").alias("__sn"), F.col("n_name").alias("__sup_nation")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(cust_nat, cust["c_nationkey"] == F.col("__cn"))
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(sup_nat, sup["s_nationkey"] == F.col("__sn"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"),
            rev.alias("__rev"),
            F.when(F.col("__sup_nation") == "NATION_7", rev)
            .otherwise(F.lit(0.0)).alias("__nat_rev"),
        )
        .groupBy("o_year")
        .agg(
            F.round(F.sum("__nat_rev") / F.sum("__rev"), 6).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_SQL_Q8 = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_7'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
GROUP BY 1
ORDER BY 1
"""


def q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog (lineitem as the stock relation): parts whose
    EUROPE-supplied value exceeds 0.1% of the total — the scalar
    subquery in HAVING is a one-row aggregate broadcast-cross-joined
    onto the per-part aggregate (no second scan of the fact: the
    per-part relation feeds both sides)."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_sup = (
        sup.join(
            nation.join(region,
                        nation["n_regionkey"] == region["r_regionkey"])
            .select("n_nationkey"),
            sup["s_nationkey"] == F.col("n_nationkey"))
        .select(F.col("s_suppkey").alias("__sk"))
    )
    eu_lines = li.join(eu_sup, li["l_suppkey"] == F.col("__sk")).select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__val"),
    )
    per_part = get_operator("aggregation")(
        group_by=["l_partkey"],
        aggregations=[{"src": "__val", "op": "sum", "dest": "__value"}],
    ).apply({"in": eu_lines})["out"]
    total = get_operator("aggregation")(
        group_by=[],
        aggregations=[{"src": "__value", "op": "sum", "dest": "__total"}],
    ).apply({"in": per_part})["out"]
    # both comparands rounded to cents BEFORE the threshold test:
    # distributed float sums differ from DuckDB's by ulps, and an
    # unrounded comparison could flip a borderline part between
    # engines (same rationale as q15's rounded argmax)
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.round("__value", 2) > F.round(0.001 * F.col("__total"), 2))
        .select("l_partkey", F.round("__value", 2).alias("value"))
        .orderBy(F.col("value").desc(), F.col("l_partkey").asc())
    )


_SQL_Q11 = """
WITH eu_lines AS (
  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), per_part AS (
  SELECT l_partkey, sum(val) AS value FROM eu_lines GROUP BY l_partkey
)
SELECT l_partkey, round(value, 2) AS value
FROM per_part
WHERE round(value, 2) > round(0.001 * (SELECT sum(value) FROM per_part), 2)
ORDER BY round(value, 2) DESC, l_partkey ASC
"""


def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog (priority filter stands in for the comment
    pattern): distribution of customers by order count, INCLUDING
    zero-order customers — the left join keeps them and count(col)
    (null-skipping, the engine's count semantics) scores them 0.
    Double aggregation: per-customer count, then count per count."""
    from etl_core_spark.operators.base import get_operator

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "cust", "right_port": "orders",
                 "left_on": "c_custkey", "right_on": "o_custkey",
                 "how": "left", "output_port": "out"},
            ]
        }
    ).apply({"cust": cust, "orders": orders})["out"]
    per_cust = get_operator("aggregation")(
        group_by=["c_custkey"],
        aggregations=[{"src": "o_orderkey", "op": "count", "dest": "c_count"}],
    ).apply({"in": joined})["out"]
    return (
        get_operator("aggregation")(
            group_by=["c_count"],
            aggregations=[{"src": "*", "op": "count", "dest": "custdist"}],
        )
        .apply({"in": per_cust})["out"]
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_SQL_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog: supplier(s) with the maximum 1998-Q1 revenue.
    Revenue is rounded to cents BEFORE the max/equality — summation
    order differs between engines by ~1 ulp, and the argmax must not
    depend on it. The scalar max is a one-row broadcast, the argmax an
    equality join against it (the Q15 view + subquery, one fact scan)."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1998-04-01")
    )
    sup = _t(spark, sf_dir, "supplier")
    revenue = (
        get_operator("aggregation")(
            group_by=["l_suppkey"],
            aggregations=[{"src": "__rev", "op": "sum", "dest": "__raw"}],
        )
        .apply({"in": li.select(
            "l_suppkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
        )})["out"]
        .select("l_suppkey", F.round("__raw", 2).alias("total_revenue"))
    )
    best = get_operator("aggregation")(
        group_by=[],
        aggregations=[{"src": "total_revenue", "op": "max", "dest": "__best"}],
    ).apply({"in": revenue})["out"]
    return (
        revenue.crossJoin(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("__best"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
        .orderBy("s_suppkey")
    )


_SQL_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1998-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog (lineitem as the part-supplier relation):
    distinct-supplier counts per (brand, type, size) for non-PROMO
    small parts, excluding blacklisted suppliers. The NOT IN
    subquery is an anti-join STEP (never a filter on a collected
    list); the distinct count is the aggregation operator's nunique."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") != "PROMO") & (F.col("p_size") <= 15)
    )
    bad_sup = _t(spark, sf_dir, "supplier").where(
        F.col("s_name").endswith("7")
    ).select("s_suppkey")
    pairs = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "p_brand", "p_type", "p_size", "l_suppkey"
    )
    kept = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "pairs", "right_port": "bad",
                 "left_on": "l_suppkey", "right_on": "s_suppkey",
                 "how": "anti", "output_port": "out"},
            ]
        }
    ).apply({"pairs": pairs, "bad": bad_sup})["out"]
    return (
        get_operator("aggregation")(
            group_by=["p_brand", "p_type", "p_size"],
            aggregations=[{"src": "l_suppkey", "op": "nunique",
                           "dest": "supplier_cnt"}],
        )
        .apply({"in": kept})["out"]
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
            F.col("p_type").asc(), F.col("p_size").asc(),
        )
    )


_SQL_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO' AND p_size <= 15
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog: weekly-ized revenue of below-half-average
    quantity lines for one brand. The correlated AVG subquery is a
    per-part aggregate broadcast back onto the same (brand-pruned)
    lines. l_quantity is integral in this data, so the per-part sums
    are EXACT doubles and the avg threshold is bit-identical across
    engines — the predicate cannot flip on summation order."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    lines = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "p_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = get_operator("aggregation")(
        group_by=["p_partkey"],
        aggregations=[{"src": "l_quantity", "op": "mean", "dest": "__avg_qty"}],
    ).apply({"in": lines})["out"]
    small = lines.join(avg_qty, on="p_partkey").where(
        F.col("l_quantity") < 0.5 * F.col("__avg_qty")
    )
    out = get_operator("aggregation")(
        group_by=[],
        aggregations=[{"src": "l_extendedprice", "op": "sum", "dest": "__sum"}],
    ).apply({"in": small})["out"]
    return out.select(F.round(F.col("__sum") / 7.0, 2).alias("avg_weekly"))


_SQL_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_weekly
FROM lineitem l JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem i
                    WHERE i.l_partkey = p_partkey)
"""


def q_q20_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog (lineitem as availqty): suppliers whose
    shipped PROMO-part quantity exceeds 1.1x the average supplier's —
    the nested-IN chain becomes per-supplier aggregate -> scalar
    broadcast threshold -> SEMI join into the supplier dim (names
    only travel for qualifying keys)."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    sup = _t(spark, sf_dir, "supplier")
    per_supp = get_operator("aggregation")(
        group_by=["l_suppkey"],
        aggregations=[{"src": "l_quantity", "op": "sum", "dest": "__qty"}],
    ).apply({"in": li.join(part,
                           li["l_partkey"] == part["p_partkey"])})["out"]
    thresh = get_operator("aggregation")(
        group_by=[],
        aggregations=[{"src": "__qty", "op": "mean", "dest": "__avg"}],
    ).apply({"in": per_supp})["out"]
    heavy = (
        per_supp.crossJoin(F.broadcast(thresh))
        .where(F.col("__qty") > 1.1 * F.col("__avg"))
        .select("l_suppkey")
    )
    out = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "sup", "right_port": "heavy",
                 "left_on": "s_suppkey", "right_on": "l_suppkey",
                 "how": "semi", "output_port": "out"},
            ]
        }
    ).apply({"sup": sup, "heavy": heavy})["out"]
    return out.select("s_suppkey", "s_name").orderBy("s_suppkey")


_SQL_Q20 = """
WITH per_supp AS (
  SELECT l_suppkey, sum(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM per_supp
  WHERE qty > 1.1 * (SELECT avg(qty) FROM per_supp)
)
ORDER BY s_suppkey
"""


def q_q21_last_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog (no commit/receipt dates in this data): for
    finalized multi-supplier orders, count per supplier how often its
    line shipped LAST. The EXISTS pair becomes one per-order
    aggregate (max shipdate + distinct-supplier count) joined back —
    max picks an existing timestamp, so the equality is exact. Ties
    (two suppliers sharing the max shipdate) count for both, in both
    engines."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    flines = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_order = get_operator("aggregation")(
        group_by=["l_orderkey"],
        aggregations=[
            {"src": "l_shipdate", "op": "max", "dest": "__last"},
            {"src": "l_suppkey", "op": "nunique", "dest": "__nsupp"},
        ],
    ).apply({"in": flines})["out"]
    waiting = (
        flines.join(per_order, on="l_orderkey")
        .where((F.col("__nsupp") > 1) & (F.col("l_shipdate") == F.col("__last")))
    )
    counts = get_operator("aggregation")(
        group_by=["l_suppkey"],
        aggregations=[{"src": "*", "op": "count", "dest": "numwait"}],
    ).apply({"in": waiting})["out"]
    sup = _t(spark, sf_dir, "supplier")
    return (
        counts.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


_SQL_Q21 = """
WITH flines AS (
  SELECT l_orderkey, l_suppkey, l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship,
         count(DISTINCT l_suppkey) AS nsupp
  FROM flines GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM flines f
JOIN per_order p ON f.l_orderkey = p.l_orderkey
JOIN supplier  ON f.l_suppkey = s_suppkey
WHERE p.nsupp > 1 AND f.l_shipdate = p.last_ship
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interval_join operator (operators/asof.py): interval×interval
    overlap join, bucketized on both sides with each pair emitted only
    from its overlap-start bucket (no distinct stage). Intervals are
    derived arithmetically from orders/part keys so the oracle can
    rebuild them; the key caps keep the pair set identical across
    scale factors."""
    from etl_core_spark.operators.base import get_operator

    a = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select(
            F.col("o_orderkey").alias("a_id"),
            ((F.col("o_orderkey") * 37) % 4000).alias("lo"),
            ((F.col("o_orderkey") * 37) % 4000 + 1 + F.col("o_orderkey") % 7).alias("hi"),
        )
    )
    b = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_partkey") < 180)
        .select(
            F.col("p_partkey").alias("b_id"),
            ((F.col("p_partkey") * 53) % 4000).alias("lo"),
            ((F.col("p_partkey") * 53) % 4000 + 1 + F.col("p_partkey") % 5).alias("hi"),
        )
    )
    out = get_operator("interval_join")(
        left_lo="lo", left_hi="hi", right_lo="lo_r", right_hi="hi_r",
        bucket_width=8.0,
    ).apply({"left": a, "right": b.select(
        "b_id", F.col("lo").alias("lo_r"), F.col("hi").alias("hi_r")
    )})["out"]
    return out.select(
        "a_id", "b_id",
        (F.least("hi", "hi_r") - F.greatest("lo", "lo_r"))
        .cast("long").alias("overlap"),
    )


_SQL_INTERVAL_JOIN = """
WITH a AS (SELECT o_orderkey AS a_id,
                  (o_orderkey * 37) % 4000 AS lo,
                  (o_orderkey * 37) % 4000 + 1 + o_orderkey % 7 AS hi
           FROM orders WHERE o_orderkey < 1200),
     b AS (SELECT p_partkey AS b_id,
                  (p_partkey * 53) % 4000 AS lo_r,
                  (p_partkey * 53) % 4000 + 1 + p_partkey % 5 AS hi_r
           FROM part WHERE p_partkey < 180)
SELECT a_id, b_id,
       CAST(least(hi, hi_r) - greatest(lo, lo_r) AS BIGINT) AS overlap
FROM a JOIN b ON a.lo < b.hi_r AND b.lo_r < a.hi
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """funnel operator (operators/timeseries.py): per-user deepest
    stage of the view → click → purchase sequence, each step strictly
    after the previous. Cascaded conditional-min aggregates with
    broadcast stage tables — no per-user collect_list."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("funnel")(
        user_col="user_id", ts_col="ts", type_col="event_type",
        steps=["view", "click", "purchase"],
    ).apply({"in": ev})["out"]
    return out


_SQL_FUNNEL = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
     s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
            JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id),
     s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
            JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id)
SELECT s1.user_id,
       CAST(CASE WHEN t3 IS NOT NULL THEN 3
                 WHEN t2 IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS stage
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def q_gaps_islands_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE gaps-and-islands form: maximal runs of consecutive
    ACTIVE DAYS per user. Same island identity (day minus
    row_number is constant within a run) but the window is
    PARTITIONED BY user — no global sort anywhere, parallelism =
    key cardinality. This is the shape the global-order variant's
    docstring promises for 100 TB; registered so the partitioned
    identity is oracle-certified too."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("__day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("__day")
    grouped = days.select(
        "user_id", "__day",
        F.date_sub(F.col("__day"), F.row_number().over(w)).alias("__grp"),
    )
    return (
        grouped.groupBy("user_id", "__grp")
        .agg(
            F.date_format(F.min("__day"), "yyyy-MM-dd").alias("start_day"),
            F.date_format(F.max("__day"), "yyyy-MM-dd").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .where(F.col("n_days") >= 3)
        .select("user_id", "start_day", "end_day", "n_days")
    )


_SQL_GAPS_ISLANDS_PER_KEY = """
SELECT user_id,
       strftime(min(day), '%Y-%m-%d') AS start_day,
       strftime(max(day), '%Y-%m-%d') AS end_day,
       count(*) AS n_days
FROM (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
)
GROUP BY user_id, grp
HAVING count(*) >= 3
"""


def q_top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cap_per_group in metric mode (operators/sampling.py): top-3
    orders per priority by total price — WindowGroupLimit pre-cuts
    map-side, tie-broken on the key for a total order."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    out = get_operator("cap_per_group")(
        group_cols=["o_orderpriority"], key_col="o_orderkey",
        max_rows=3, order_col="o_totalprice", descending=True,
    ).apply({"in": orders})["out"]
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice")


_SQL_TOP_N_PER_GROUP = """
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn <= 3
"""


def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands via rank arithmetic: maximal runs of
    consecutive o_orderkey values among high-value orders
    (key - global_rank is constant within an island). The global
    rank comes from ``linkage._global_rank`` — a range shuffle, a
    partition-LOCAL row_number, and a broadcast of #partitions
    offsets — NEVER a single-partition global window, so the same
    plan holds at 100 TB (the rank is partitioning-independent
    because o_orderkey is a total order). One aggregation after —
    no self-join. ``gaps_islands_per_key`` is the keyed sibling."""
    from etl_core_spark.operators.linkage import _global_rank

    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 100000.0
    ).select("o_orderkey")
    ranked = _global_rank(orders, ["o_orderkey"])
    grouped = ranked.select(
        "o_orderkey",
        (F.col("o_orderkey") - F.col("__rn")).alias("__grp"),
    )
    return (
        grouped.groupBy("__grp")
        .agg(
            F.min("o_orderkey").alias("island_start"),
            F.max("o_orderkey").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .where(F.col("island_len") >= 5)
        .select("island_start", "island_end", "island_len")
    )


_SQL_GAPS_ISLANDS = """
SELECT min(o_orderkey) AS island_start,
       max(o_orderkey) AS island_end,
       count(*) AS island_len
FROM (SELECT o_orderkey,
             o_orderkey - row_number() OVER (ORDER BY o_orderkey) AS grp
      FROM orders WHERE o_totalprice > 100000.0)
GROUP BY grp
HAVING count(*) >= 5
"""


def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ntile: customers cut into account-balance deciles
    (ties broken by c_custkey for a total, engine-independent order),
    profiled per decile. ntile is definitionally global, but it does
    NOT need a single-partition window: the decile is pure integer
    arithmetic on the ``linkage._global_rank`` distributed rank plus
    one broadcast one-row count — with q = n div 10 and r = n mod 10,
    the first r tiles take q+1 rows (the SQL-standard big-tiles-first
    split both Spark's and DuckDB's ntile implement), so
    tile = (rn-1) div (q+1) + 1 inside the first r*(q+1) rows and
    r + (rn - r*(q+1) - 1) div q + 1 after. Scales like any ranked
    aggregation at 100 TB."""
    from etl_core_spark.operators.linkage import _global_rank

    cust = _t(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    ranked = _global_rank(cust, ["c_acctbal", "c_custkey"])
    n_row = cust.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    tiled = ranked.crossJoin(F.broadcast(n_row)).selectExpr(
        "c_acctbal",
        """CASE WHEN __rn <= (__n % 10) * (__n div 10 + 1)
                THEN (__rn - 1) div (__n div 10 + 1) + 1
                ELSE (__n % 10)
                     + (__rn - (__n % 10) * (__n div 10 + 1) - 1)
                       div (__n div 10) + 1
           END AS decile""",
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


_SQL_NTILE = """
SELECT decile, count(*) AS n,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM (SELECT c_acctbal,
             ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
      FROM customer)
GROUP BY decile
"""


# --------------------------------------------------------------------------
# §2.3 join-type matrix (inner/left/right/outer with null padding)
# --------------------------------------------------------------------------

def _join_matrix(how: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from etl_core_spark.operators.base import get_operator

        cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
        nation = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") <= 2)
        out = get_operator("schema_mapping")(
            join_plan={
                "steps": [
                    {"left_port": "customer", "right_port": "nation",
                     "left_on": "c_nationkey", "right_on": "n_nationkey",
                     "how": how, "output_port": "out"},
                ]
            }
        ).apply({"customer": cust, "nation": nation})["out"]
        return out.select("c_custkey", "c_name", "n_nationkey", "n_name")

    return q


def _join_matrix_sql(how: str) -> str:
    sql_how = {"inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
               "outer": "FULL OUTER JOIN"}[how]
    return f"""
SELECT c_custkey, c_name, n_nationkey, n_name
FROM (SELECT * FROM customer WHERE c_custkey <= 50) c
{sql_how} (SELECT * FROM nation WHERE n_regionkey <= 2) n
ON c.c_nationkey = n.n_nationkey
"""


def q_join_multi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    out = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "customer", "right_port": "nation",
                 "left_on": "c_nationkey", "right_on": "n_nationkey",
                 "how": "inner", "output_port": "cn", "broadcast": True},
                {"left_port": "cn", "right_port": "region",
                 "left_on": "n_regionkey", "right_on": "r_regionkey",
                 "how": "inner", "output_port": "cnr", "broadcast": True},
            ]
        }
    ).apply(
        {
            "customer": _t(spark, sf_dir, "customer"),
            "nation": _t(spark, sf_dir, "nation"),
            "region": _t(spark, sf_dir, "region"),
        }
    )["cnr"]
    return out.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


_SQL_JOIN_MULTI = """
SELECT r_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _join_semi_anti(how: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from etl_core_spark.operators.base import get_operator

        cust = _t(spark, sf_dir, "customer")
        big_orders = _t(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 470000.0
        )
        out = get_operator("schema_mapping")(
            join_plan={
                "steps": [
                    {"left_port": "customer", "right_port": "orders",
                     "left_on": "c_custkey", "right_on": "o_custkey",
                     "how": how, "output_port": "out"},
                ]
            }
        ).apply({"customer": cust, "orders": big_orders})["out"]
        return out.select("c_custkey", "c_name", "c_acctbal")

    return q


def _join_semi_anti_sql(how: str) -> str:
    op = "" if how == "semi" else "NOT "
    return f"""
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE {op}EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 470000.0)
"""


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select("l_orderkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return a.intersect(b)


_SQL_SET_INTERSECT = """
SELECT l_orderkey FROM lineitem WHERE l_quantity > 25
INTERSECT
SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05
"""


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select("l_orderkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return a.exceptAll(b).distinct()


_SQL_SET_EXCEPT = """
SELECT DISTINCT l_orderkey FROM (
  SELECT l_orderkey FROM lineitem WHERE l_quantity > 25
  EXCEPT ALL
  SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05
)
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot operator (operators/reshape.py): long → wide with a
    DECLARED value list (single-pass, bounded schema)."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return get_operator("pivot")(
        group_by=["user_id"], pivot_col="event_type", values=types
    ).apply({"in": ev})["out"]


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot operator (operators/reshape.py): wide → long melt of
    lineitem's numeric measures, zero-shuffle Expand projection,
    NULLs kept (SQL UNPIVOT INCLUDE NULLS parity)."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    return get_operator("unpivot")(
        id_cols=["l_orderkey", "l_linenumber"],
        value_cols=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    ).apply({"in": li})["out"]


_SQL_UNPIVOT = """
SELECT l_orderkey, l_linenumber, metric, value
FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_tax
      FROM lineitem WHERE l_orderkey < 200)
UNPIVOT INCLUDE NULLS (value FOR metric IN
    (l_quantity, l_extendedprice, l_discount, l_tax))
"""


_SQL_PIVOT = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY user_id
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


_SQL_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond rollup/cube's fixed lattices):
    per-status, per-priority, and grand-total rows in one pass —
    Spark 4's DataFrame.groupingSets, one Expand + one aggregation."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


_SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order history with lag/lead over a deterministic
    (date, key) ordering — the standard prev/next-event shape."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


_SQL_WINDOW_LEAD_LAG = """
SELECT o_orderkey, o_custkey,
       round(o_totalprice, 2) AS price,
       round(lag(o_totalprice) OVER w, 2) AS prev_price,
       round(lead(o_totalprice) OVER w, 2) AS next_price
FROM orders
WHERE o_custkey <= 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_SQL_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# §2.7 type conversion (cast ladders)
# --------------------------------------------------------------------------

def q_type_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.col("value").alias("v_num"),
        F.col("event_type").alias("et_bool"),
    )
    out = get_operator("type_conversion")(
        rules=[
            {"column_path": "k_str", "target": "integer", "on_error": "null"},
            {"column_path": "v_num", "target": "integer", "on_error": "null"},
            {"column_path": "et_bool", "target": "boolean", "on_error": "null"},
        ]
    ).apply({"in": ev})["out"]
    return out.withColumnsRenamed({"k_str": "k_int", "v_num": "v_int"})


_SQL_TYPE_CONVERSION = """
SELECT event_id,
       CASE WHEN try_cast(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
                 AND try_cast(json_extract_string(props, '$.k') AS DOUBLE)
                     = floor(try_cast(json_extract_string(props, '$.k') AS DOUBLE))
            THEN CAST(try_cast(json_extract_string(props, '$.k') AS DOUBLE) AS BIGINT)
            ELSE NULL END AS k_int,
       CASE WHEN value = floor(value) THEN CAST(value AS BIGINT) ELSE NULL END AS v_int,
       CASE WHEN lower(trim(event_type)) IN ('', 'na', 'nan', 'null', 'none') THEN NULL
            WHEN lower(trim(event_type)) IN ('true', 't', '1', 'yes', 'y') THEN TRUE
            WHEN lower(trim(event_type)) IN ('false', 'f', '0', 'no', 'n') THEN FALSE
            ELSE NULL END AS et_bool
FROM events
"""


def q_cast_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→timestamp and string→date cast targets (casts.py:188)
    through the type_conversion operator, with reference null-marker
    strings (''/'na'/'none') injected so the on_error=null path is
    exercised on dirty values, not just parseable ones. Outputs are
    re-formatted to strings for engine-independent hashing (the same
    convention events_hourly uses)."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.lit("na"))
        .when(F.col("event_id") % 89 == 0, F.lit(""))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("ts_str"),
        F.when(F.col("event_id") % 83 == 0, F.lit("none"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd"))
        .alias("d_str"),
    )
    out = get_operator("type_conversion")(
        rules=[
            {"column_path": "ts_str", "target": "timestamp", "on_error": "null"},
            {"column_path": "d_str", "target": "date", "on_error": "null"},
        ]
    ).apply({"in": ev})["out"]
    return out.select(
        "event_id",
        F.date_format("ts_str", "yyyy-MM-dd HH:mm:ss").alias("ts_cast"),
        F.col("d_str").cast("string").alias("d_cast"),
    )


_SQL_CAST_TEMPORAL = """
WITH e AS (
  SELECT event_id,
         CASE WHEN event_id % 97 = 0 THEN 'na'
              WHEN event_id % 89 = 0 THEN ''
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_str,
         CASE WHEN event_id % 83 = 0 THEN 'none'
              ELSE strftime(ts, '%Y-%m-%d') END AS d_str
  FROM events
)
SELECT event_id,
       strftime(try_cast(ts_str AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_cast,
       CAST(try_cast(d_str AS DATE) AS VARCHAR) AS d_cast
FROM e
"""


# --------------------------------------------------------------------------
# §2.5 merge (union), split, top-k, windows (beyond-reference)
# --------------------------------------------------------------------------

def q_merge_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    hi = li.filter(F.col("l_quantity") > 45)
    lo = li.filter(F.col("l_quantity") < 2)
    out = get_operator("merge")().apply({"in": hi, "in#1": lo})["out"]
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


_SQL_MERGE_UNION = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45
UNION ALL
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 2
"""


def q_split_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    branches = get_operator("split")(branches=["a", "b"]).apply({"in": orders})
    counts = branches["a"].groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    avgs = branches["b"].groupBy("o_orderstatus").agg(
        F.round(F.avg("o_totalprice"), 6).alias("avg_price")
    )
    joined = get_operator("schema_mapping")(
        join_plan={
            "steps": [
                {"left_port": "counts", "right_port": "avgs",
                 "left_on": "o_orderstatus", "right_on": "o_orderstatus",
                 "how": "inner", "output_port": "out"},
            ]
        }
    ).apply({"counts": counts, "avgs": avgs})["out"]
    return joined


_SQL_SPLIT_AGG = """
SELECT o_orderstatus, count(*) AS n_orders,
       round(avg(o_totalprice), 6) AS avg_price
FROM orders GROUP BY o_orderstatus
"""


def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_SQL_TOP_K = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


_SQL_WINDOW_RANK = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       row_number() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
FROM customer
QUALIFY rn <= 3
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


_SQL_WINDOW_RUNNING = """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


# --------------------------------------------------------------------------
# event-time windows + JSON props (events table)
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.streaming import windowed_aggregate

    ev = _t(spark, sf_dir, "events")
    out = windowed_aggregate(
        ev, ts_col="ts", window_duration="1 hour",
        aggs=[("value", "sum", "sum_value"), ("*", "count", "n_events")],
        group_by=["event_type"],
    )
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        F.round("sum_value", 6).alias("sum_value"),
        "n_events",
    )


_SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       round(sum(value), 6) AS sum_value,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""

# streaming_hourly certifies on the first-quarter-hour panel (see
# q_streaming_hourly) — same rollup, panel-filtered input
_SQL_STREAMING_HOURLY = _SQL_EVENTS_HOURLY.replace(
    "FROM events GROUP BY 1, 2",
    "FROM events WHERE date_part('minute', ts) < 15 GROUP BY 1, 2",
)


def q_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-batch equality for the built-in windowed aggregate
    (streaming/stream.py windowed_aggregate): the events table runs
    as a REAL availableNow stream in APPEND mode — a window row only
    emits once the watermark passes its end, so a year-2100 sentinel
    event (dropped from the result) pushes the watermark beyond
    every real 2024 window and the emitted set must equal the batch
    hourly rollup, which is the events_hourly DuckDB oracle
    verbatim. Completes the streaming certification trio: custom
    MG state (streaming_topk), stateful timers
    (streaming_sessionize), and the built-in windowed aggregate
    (this row)."""
    import datetime
    import os
    import shutil
    import tempfile

    from etl_core_spark.streaming import windowed_aggregate

    # deterministic first-quarter-hour panel (VERDICT r10 #5): every
    # hourly window stays populated at a quarter of the rows; the
    # oracle applies the same minute predicate
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.minute("ts") < 15)
        .select("ts", "event_type", "value")
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="stream_hourly_", dir=shm)
    try:
        src = os.path.join(work, "src")
        sentinel = datetime.datetime(2100, 1, 1)
        ev.unionByName(
            spark.createDataFrame(
                [(sentinel, "__SENTINEL__", 0.0)], ev.schema
            )
        ).write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = windowed_aggregate(
            stream, ts_col="ts", window_duration="1 hour",
            aggs=[("value", "sum", "sum_value"), ("*", "count", "n_events")],
            group_by=["event_type"],
        ).select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
            F.round("sum_value", 6).alias("sum_value"),
            "n_events",
        )
        out_dir = os.path.join(work, "out")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
            q = (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        rows = (
            spark.read.parquet(out_dir)
            .where(F.col("event_type") != "__SENTINEL__")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "hour_start string, event_type string, sum_value double, "
        "n_events long",
    )


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h window, 30 min slide): every
    event lands in two overlapping windows."""
    from etl_core_spark.streaming import windowed_aggregate

    ev = _t(spark, sf_dir, "events")
    out = windowed_aggregate(
        ev, ts_col="ts", window_duration="1 hour", slide_duration="30 minutes",
        aggs=[("value", "sum", "sum_value"), ("*", "count", "n_events")],
    )
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        F.round("sum_value", 6).alias("sum_value"),
        "n_events",
    )


_SQL_EVENTS_SLIDING = """
WITH w AS (
  SELECT value,
         unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
                ]) AS win_start
  FROM events
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       round(sum(value), 6) AS sum_value,
       count(*) AS n_events
FROM w GROUP BY 1
"""


def q_mapping_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema_mapping field-mapping rules: rename/move source leaves
    to destination paths (flat here so the oracle stays hashable;
    nesting is covered by tests/test_joins.py)."""
    from etl_core_spark.operators.base import get_operator

    cust = _t(spark, sf_dir, "customer")
    out = get_operator("schema_mapping")(
        rules_by_dest={
            "out": {
                "customer_id": {"src_port": "in", "src_path": "c_custkey"},
                "segment": {"src_port": "in", "src_path": "c_mktsegment"},
                "balance": {"src_port": "in", "src_path": "c_acctbal"},
            }
        }
    ).apply({"in": cust})["out"]
    return out


_SQL_MAPPING_RULES = """
SELECT c_custkey AS customer_id, c_mktsegment AS segment,
       c_acctbal AS balance
FROM customer
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the value of the same
    user's latest purchase at-or-before the click. Spark lacks ASOF
    JOIN — implemented as a single-shuffle union-and-carry
    (operators/asof.py); DuckDB's native ASOF JOIN is the oracle."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = get_operator("as_of_join")(
        on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["purchase_value"],
    ).apply({"left": clicks, "right": purchases})["out"]
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


_SQL_ASOF = """
WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       round(p.value, 6) AS purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


_PRICE_BANDS = [
    ("budget", 0.0, 250.0),
    ("mid", 250.0, 700.0),
    ("premium", 700.0, 1200.0),
    ("luxury", 1200.0, 2500.0),
]


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join: part prices into non-uniform price
    bands via bucketized candidates + exact verify (operators/asof.py
    range_join) instead of an inequality cross join."""
    from etl_core_spark.operators.base import get_operator

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    out = get_operator("range_join")(
        point_col="p_retailprice", lo_col="lo", hi_col="hi",
        bucket_width=250.0, broadcast_intervals=True,
    ).apply({"points": part, "intervals": bands})["out"]
    return out.select("p_partkey", "p_retailprice", "band")


_SQL_RANGE_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES ('budget', 0.0, 250.0), ('mid', 250.0, 700.0),
         ('premium', 700.0, 1200.0), ('luxury', 1200.0, 2500.0)
)
SELECT p_partkey, p_retailprice, band
FROM part JOIN bands
ON p_retailprice >= lo AND p_retailprice < hi
"""


def q_events_json_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            "event_type",
        )
        .where(F.col("k") >= 50)
    )


_SQL_EVENTS_JSON = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       event_type
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
"""


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) as a batch
    window-function pipeline — the SQL-expressible analog of the
    streaming applyInPandasWithState operator."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("ts").over(w)
    gap = (F.col("ts") - prev) > F.expr("INTERVAL 30 MINUTES")
    sessioned = ev.withColumn(
        "new_session", F.when(gap | prev.isNull(), 1).otherwise(0)
    )
    return (
        sessioned.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""


# --------------------------------------------------------------------------
# beyond-reference: dedup / text analysis / similarity (documents,
# embeddings)
# --------------------------------------------------------------------------

def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of documents by md5 hash bucket —
    stable across reruns, partitionings, and engines."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("hash_sample")(key_col="doc_id", rate=0.1).apply(
        {"in": docs}
    )["out"]
    return out.select("doc_id", "lang")


_SQL_HASH_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < {int(0.1 * 16 ** 8)}
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stratified_sample operator (operators/sampling.py): per-lang
    keep fractions — downsample dominant English, keep more of the
    rarer slices, default rate for strata not listed. Narrow map,
    no shuffle; assignment is md5-stable so the oracle checks every
    kept row, not just counts."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("stratified_sample")(
        key_col="doc_id",
        strata_col="lang",
        rates={"en": 0.2, "de": 0.8, "fr": 0.6},
        default_rate=0.4,
    )
    return op.apply({"in": docs})["out"].select("doc_id", "lang")


_SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < CASE lang WHEN 'en' THEN {int(0.2 * 16 ** 8)}
                  WHEN 'de' THEN {int(0.8 * 16 ** 8)}
                  WHEN 'fr' THEN {int(0.6 * 16 ** 8)}
                  ELSE {int(0.4 * 16 ** 8)} END
"""


def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cap_per_group operator (operators/sampling.py): at most 50
    events per event_type, selected by hash order (stable under
    reruns/partitioning — not "first seen"). One window shuffle."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    op = get_operator("cap_per_group")(
        group_cols=["event_type"], key_col="event_id", max_rows=50
    )
    return op.apply({"in": ev})["out"].select("event_id", "event_type")


_SQL_CAP_PER_GROUP = """
SELECT event_id, event_type FROM (
  SELECT event_id, event_type,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT),
                    event_id) AS rn
  FROM events) t
WHERE rn <= 50
"""


def q_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split assignment (90/5/5) by hash bucket; the
    query returns per-split sizes, which pins every row's assignment."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    splits = get_operator("hash_split")(
        key_col="doc_id", weights={"train": 0.9, "val": 0.05, "test": 0.05}
    ).apply({"in": docs})
    parts = [
        splits[name].groupBy().agg(
            F.lit(name).alias("split"), F.count(F.lit(1)).alias("n_docs")
        )
        for name in ("train", "val", "test")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a global groupBy().agg() on an EMPTY split still emits one
    # (split, 0) row, but the oracle's GROUP BY emits nothing for it —
    # align on "non-empty splits only" (no-op on this data, load-
    # bearing if a tiny corpus leaves the 5% buckets empty)
    return out.where(F.col("n_docs") > 0)


_SQL_HASH_SPLIT = f"""
WITH b AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
  FROM documents
), assigned AS (
  SELECT CASE
    WHEN bucket < {int(0.9 * 16 ** 8)} THEN 'train'
    WHEN bucket < {int((0.9 + 0.05) * 16 ** 8)} THEN 'val'
    ELSE 'test' END AS split
  FROM b
)
SELECT split, count(*) AS n_docs FROM assigned GROUP BY split
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents").withColumn("h", F.md5("text"))
    out = get_operator("dedup")(
        method="exact", keys=["h"], id_col="doc_id"
    ).apply({"in": docs})["out"]
    return out.select("doc_id", "n_chars")


_SQL_DEDUP_EXACT = """
SELECT d.doc_id, d.n_chars
FROM documents d
JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
      FROM documents GROUP BY 1) s
ON d.doc_id = s.doc_id
"""


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style in-document repetition metrics
    (operators/text_analysis.py annotate): duplicate-line fraction,
    duplicate-line CHARACTER fraction, and the fraction of characters
    covered by the most frequent word 2-gram. All three are per-row
    array expressions (sort + adjacency / one fold) — zero shuffle;
    the oracle recomputes them relationally (unnest + group by)."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("text_analysis")(
        metrics=["dup_line_frac", "dup_line_char_frac", "top_bigram_char_frac"],
    ).apply({"in": docs})["out"]
    return out.select(
        "doc_id", "dup_line_frac", "dup_line_char_frac", "top_bigram_char_frac"
    )


_SQL_REPETITION = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(coalesce(text, ''), chr(10)),
                     x -> length(trim(x)) > 0) AS lines,
         {_TOKS} AS toks
  FROM documents
), lf AS (
  SELECT doc_id,
         CASE WHEN len(lines) > 0
              THEN round(1 - len(list_distinct(lines))
                         / CAST(len(lines) AS DOUBLE), 6)
              ELSE 0.0 END AS dup_line_frac
  FROM t
), lc AS (
  SELECT doc_id,
         round(COALESCE(sum(length(line) * c) FILTER (c > 1), 0)
               / CAST(sum(length(line) * c) AS DOUBLE), 6) AS dup_line_char_frac
  FROM (
    SELECT doc_id, line, count(*) AS c
    FROM (SELECT doc_id, unnest(lines) AS line FROM t)
    GROUP BY doc_id, line
  )
  GROUP BY doc_id
), gc AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest({_shingles_sql(2)}) AS g FROM t)
  GROUP BY doc_id, g
), top AS (
  SELECT doc_id, g, c,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, g ASC) AS rn
  FROM gc
)
SELECT t.doc_id,
       lf.dup_line_frac,
       COALESCE(lc.dup_line_char_frac, 0.0) AS dup_line_char_frac,
       COALESCE(round(top.c * length(top.g)
                      / CAST(length(t.text) AS DOUBLE), 6), 0.0)
         AS top_bigram_char_frac
FROM t
JOIN lf USING (doc_id)
LEFT JOIN lc USING (doc_id)
LEFT JOIN top ON top.doc_id = t.doc_id AND top.rn = 1
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontaminate operator (operators/text_analysis.py):
    GPT-3-style train-test contamination check — training docs
    sharing token n-grams with a benchmark corpus get flagged. The
    benchmark here is a deterministic slice of the documents table
    (doc_id % 25 == 0) so the oracle can rebuild it; members of the
    slice are contaminated with themselves by construction, making
    the certification non-vacuous on every run."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 25 == 0).select("text")
    out = get_operator("decontaminate")(ngram_n=5).apply(
        {"docs": docs, "benchmark": bench}
    )["out"]
    return out.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        "is_contaminated",
    )


_SQL_DECONTAMINATE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), dg AS (
  SELECT doc_id, unnest(list_distinct({_shingles_sql(5)})) AS g FROM t
), bg AS (
  SELECT DISTINCT unnest({_shingles_sql(5)}) AS g
  FROM t WHERE doc_id % 25 = 0
), totals AS (
  SELECT doc_id, count(*) AS n_ngrams FROM dg GROUP BY doc_id
), hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM dg JOIN bg USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(t.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) > 0 AS is_contaminated
FROM documents d
LEFT JOIN totals t ON d.doc_id = t.doc_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunk_documents operator (operators/text_analysis.py):
    overlapping token-window chunks for embedding/pretraining
    pipelines — pure token arithmetic, so the oracle reproduces
    byte-identical chunk text."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("chunk_documents")(
        text_col="text", id_col="doc_id", chunk_tokens=16, overlap=4,
    ).apply({"in": docs})["out"]


_SQL_CHUNK_DOCS = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE length(trim(text)) > 0
), st AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) > 16
              THEN CAST(ceil((len(toks) - 4) / CAST(12 AS DOUBLE)) AS INT)
              ELSE 1 END AS n_starts
  FROM t
), ex AS (
  SELECT doc_id, toks, unnest(range(0, n_starts)) AS chunk_idx FROM st
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) AS chunk_id,
       array_to_string(list_slice(toks, chunk_idx * 12 + 1, chunk_idx * 12 + 16), ' ') AS chunk_text,
       CAST(len(list_slice(toks, chunk_idx * 12 + 1, chunk_idx * 12 + 16)) AS BIGINT) AS n_tokens
FROM ex
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences operator (operators/sampling.py): deterministic
    GPT-style concatenation packing — each doc's (shard, bin, offset)
    under a fixed token budget, hash-sharded so no global sort."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("pack_sequences")(
        key_col="doc_id", token_count_col="n_chars", capacity=4096, shards=8,
    ).apply({"in": docs})["out"].select(
        "doc_id", "shard", "bin_id", "offset_in_bin", "n_tokens"
    )


_SQL_PACK_SEQUENCES = """
WITH h AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM documents
), s AS (
  SELECT doc_id, n_chars, hv, hv % 8 AS shard FROM h
), c AS (
  SELECT doc_id, n_chars, shard,
         sum(n_chars) OVER (PARTITION BY shard ORDER BY hv, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM s
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard,
       CAST(floor((cum - n_chars) / 4096) AS BIGINT) AS bin_id,
       CAST((cum - n_chars) % 4096 AS BIGINT) AS offset_in_bin,
       CAST(n_chars AS BIGINT) AS n_tokens
FROM c
"""


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_text operator (operators/text_analysis.py): HTML strip,
    entity unescape, email/IP/phone redaction, whitespace
    normalization. The synthetic documents carry no PII, so the query
    derives dirty text DETERMINISTICALLY from doc_id (same expression
    in the oracle) — the certification exercises every redaction
    stage on every row instead of passing vacuously."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.lit("<p>"), F.coalesce(F.col("text"), F.lit("")),
            F.lit("</p> Contact: user"), key,
            F.lit("@example.com or +1 (555) 010-"),
            F.lpad(key, 4, "0"),
            F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 &amp; done"),
        ).alias("text"),
    )
    out = get_operator("clean_text")().apply({"in": dirty})["out"]
    return out.select("doc_id", "text_clean")


_SQL_CLEAN_TEXT = r"""
WITH dirty AS (
  SELECT doc_id,
         '<p>' || coalesce(text, '') || '</p> Contact: user'
         || CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 010-'
         || lpad(CAST(doc_id AS VARCHAR), 4, '0')
         || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 &amp; done'
         AS text
  FROM documents
)
SELECT doc_id,
trim(regexp_replace(
  regexp_replace(
    regexp_replace(
      regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(text, '<[^>]*>', '', 'g'),
          '&nbsp;',' '),'&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&amp;','&'),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
    '\+?[0-9][0-9()\-\s.]{6,}[0-9]', '<PHONE>', 'g'),
  '\s+', ' ', 'g')) AS text_clean
FROM dirty
"""


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("text_analysis")(
        metrics=("n_tokens", "n_tokens_bpe", "punct_ratio", "stopword_ratio", "fingerprint"),
    ).apply({"in": docs})["out"].select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.col("n_tokens").cast("long"),
        F.col("n_tokens_bpe").cast("long"),
        "punct_ratio",
        "stopword_ratio",
        "fingerprint",
    )


_SQL_TEXT_METRICS = f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
         CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(toks) AS n_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_tokens_bpe,
       round(CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                  / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN len(ltoks) > 0
             THEN len(list_filter(ltoks, x -> list_contains(
                  ['the','and','of','to','a','in','is','it','that','for'], x)))
                  / CAST(len(ltoks) AS DOUBLE)
             ELSE 0.0 END, 6) AS stopword_ratio,
       md5(text) AS fingerprint
FROM t
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("text_analysis")(metrics=("lang_pred",)).apply(
        {"in": docs}
    )["out"].select("doc_id", "lang", "lang_pred")


def _lang_id_sql() -> str:
    from etl_core_spark.functions.text import LANG_STOPWORDS

    hit_cols = []
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_cols.append(f"len(list_intersect(dtoks, [{lst}])) AS hits_{lang}")
    langs = sorted(LANG_STOPWORDS)  # alphabetical = Spark's tie-break
    best = "GREATEST(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    pick = "CASE "
    for l in langs:
        pick += f"WHEN hits_{l} = {best} THEN '{l}' "
    pick += "END"
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         list_distinct(CASE WHEN length(trim(lower(text))) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS dtoks
  FROM documents
), h AS (
  SELECT doc_id, lang, {', '.join(hit_cols)} FROM t
)
SELECT doc_id, lang,
       CASE WHEN {best} = 0 THEN 'und' ELSE {pick} END AS lang_pred
FROM h
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID (functions/text.py
    LANG_CHAR_TRIGRAMS — the Cavnar-Trenkle n-gram idea reduced to a
    fixed counting pass). Scores are total characters consumed by
    each language's trigrams over the padded text; the oracle
    recomputes the identical length/replace arithmetic."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("text_analysis")(metrics=("lang_pred_ngram",)).apply(
        {"in": docs}
    )["out"].select("doc_id", "lang", "lang_pred_ngram")


def _lang_id_ngram_sql() -> str:
    from etl_core_spark.functions.text import LANG_CHAR_TRIGRAMS

    hit_cols = []
    for lang, grams in LANG_CHAR_TRIGRAMS.items():
        terms = " + ".join(
            f"(length(p) - length(replace(p, '{g}', '')))" for g in grams
        )
        hit_cols.append(f"({terms}) AS hits_{lang}")
    langs = sorted(LANG_CHAR_TRIGRAMS)  # alphabetical = Spark's tie-break
    best = "GREATEST(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    pick = "CASE "
    for l in langs:
        pick += f"WHEN hits_{l} = {best} THEN '{l}' "
    pick += "END"
    return f"""
WITH t AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents
), h AS (
  SELECT doc_id, lang, {', '.join(hit_cols)} FROM t
)
SELECT doc_id, lang,
       CASE WHEN {best} = 0 THEN 'und' ELSE {pick} END AS lang_pred_ngram
FROM h
"""


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.dedup import _shingle_table, minhash_sig_table

    docs = _t(spark, sf_dir, "documents")
    # signature-only plan: the shingle table has ONE consumer, so no
    # persist (the cache materialization cost the r5 bench 1.6x here)
    sh = _shingle_table(docs, "text", "doc_id", shingle_n=3, persist=False)
    return minhash_sig_table(sh, "doc_id", num_hashes=2)


_SQL_MINHASH_SIG = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({_shingles_sql(3)}) AS s FROM t
), m AS (
  SELECT doc_id,
         min(md5('0:' || s)) AS m0,
         min(md5('1:' || s)) AS m1
  FROM sh GROUP BY doc_id
)
SELECT d.doc_id, m.m0, m.m1
FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
"""


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing / MOSS) document fingerprints: char
    k-gram md5s, sliding-window minima, sorted distinct selection.
    Scalar digest compared against DuckDB recomputing the identical
    md5 selections."""
    from etl_core_spark.operators.dedup import winnow_fingerprint_table

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprint_table(docs, "text", "doc_id", k=8, window=4).select(
        "doc_id", "n_fingerprints", "digest"
    )


_SQL_WINNOW = """
WITH t AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), g AS (
  SELECT doc_id, norm, greatest(length(norm) - 8 + 1, 1) AS n FROM t
), h AS (
  SELECT doc_id,
         CASE WHEN norm IS NULL OR length(norm) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(range(1, n + 1),
                        i -> md5(substr(norm, CAST(i AS INTEGER), 8))) END AS hashes,
         n
  FROM g
), w AS (
  SELECT doc_id,
         CASE WHEN len(hashes) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_sort(list_distinct(
           list_transform(range(1, greatest(n - 4 + 1, 1) + 1),
                          j -> list_aggregate(list_slice(hashes, j, j + 3), 'min'))
         )) END AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(fps) AS INTEGER) AS n_fingerprints,
       md5(array_to_string(fps, ',')) AS digest
FROM w
"""


def q_winnow_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism-style near-dup pairs: explode winnowing fingerprints
    and equi-join (no all-pairs scan), count shared selections. The
    doc-frequency cap drops generic-substring fingerprints that would
    make the join quadratic (hot keys)."""
    from etl_core_spark.operators.dedup import winnow_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_near_dup_pairs(
        docs, "text", "doc_id", k=8, window=4, min_shared=2, max_doc_freq=5
    )


_SQL_WINNOW_PAIRS = """
WITH t AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), g AS (
  SELECT doc_id, norm, greatest(length(norm) - 8 + 1, 1) AS n FROM t
), h AS (
  SELECT doc_id,
         CASE WHEN norm IS NULL OR length(norm) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(range(1, n + 1),
                        i -> md5(substr(norm, CAST(i AS INTEGER), 8))) END AS hashes,
         n
  FROM g
), w AS (
  SELECT doc_id,
         CASE WHEN len(hashes) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_sort(list_distinct(
           list_transform(range(1, greatest(n - 4 + 1, 1) + 1),
                          j -> list_aggregate(list_slice(hashes, j, j + 3), 'min'))
         )) END AS fps
  FROM h
), ex0 AS (
  SELECT doc_id, unnest(fps) AS fp FROM w
), rare AS (
  SELECT fp FROM ex0 GROUP BY fp HAVING count(*) <= 5
), ex AS (
  SELECT ex0.doc_id, ex0.fp FROM ex0 JOIN rare ON ex0.fp = rare.fp
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.dedup import minhash_dedup_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, num_hashes=4, bands=2, shingle_n=3
    )


_MINHASH_PAIRS_CTES = f"""t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), shl AS (
  SELECT doc_id, {_shingles_sql(3)} AS shingles FROM t
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM shl
), sig AS (
  SELECT doc_id,
         min(md5('0:' || s)) AS s0, min(md5('1:' || s)) AS s1,
         min(md5('2:' || s)) AS s2, min(md5('3:' || s)) AS s3
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, md5('0|' || s0 || '|' || s1) AS bk FROM sig
  UNION ALL
  SELECT doc_id, md5('1|' || s2 || '|' || s3) AS bk FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
), dsh AS (
  SELECT doc_id, list_distinct(shingles) AS ds FROM shl
)"""

_MINHASH_PAIRS_SELECT = """SELECT id_a, id_b,
       round(len(list_intersect(x.ds, y.ds))
             / CAST(len(list_distinct(list_cat(x.ds, y.ds))) AS DOUBLE), 6) AS jaccard
FROM cand
JOIN dsh x ON x.doc_id = id_a
JOIN dsh y ON y.doc_id = id_b
WHERE round(len(list_intersect(x.ds, y.ds))
      / CAST(len(list_distinct(list_cat(x.ds, y.ds))) AS DOUBLE), 6) >= 0.5
"""

_SQL_MINHASH_PAIRS = f"""WITH {_MINHASH_PAIRS_CTES}
{_MINHASH_PAIRS_SELECT}"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup against a PERSISTENT MinHash index
    (operators/dedup.py minhash_index_update /
    incremental_near_dup_pairs): even-id docs are indexed once
    (signatures only — plain parquet), then the odd-id batch computes
    its own signatures, band-joins the stored index and estimates
    Jaccard from signature agreement. The daily-crawl shape: per-batch
    cost is one index scan + a broadcast band join, never a
    corpus-wide shingle recompute. The oracle recomputes the identical
    md5 signatures, band values and agreement estimate for both
    halves."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.dedup import incremental_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    idx = _scratch_dir("mh_idx")
    # index build through the registered minhash_index SINK; the pair
    # ESTIMATE stays the direct kernel (the incremental_dedup operator
    # returns annotated/dropped rows, a different surface — this row
    # certifies the signature-agreement arithmetic itself)
    get_operator("minhash_index")(
        index_path=idx, num_hashes=8, bands=4
    ).write(docs.where(F.col("doc_id") % 2 == 0))
    return incremental_near_dup_pairs(
        docs.where(F.col("doc_id") % 2 == 1), idx, threshold=0.5
    )


def _sql_incremental_dedup() -> str:
    nh, bands = 8, 4
    rows = nh // bands
    mins = ",\n         ".join(
        f"min(md5('{j}:' || s)) AS s{j}" for j in range(nh)
    )
    # concat over range(rows), not a hardcoded pair: if nh/bands are
    # ever retuned, a two-column assumption would silently hash only
    # the first two of rows signature columns and mismatch the Spark
    # side's _band_val_cols
    band_sel = "\n  UNION ALL\n".join(
        "  SELECT doc_id, md5('{b}|' || {cat}) AS bv FROM sig".format(
            b=b,
            cat=" || '|' || ".join(f"s{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN x.s{j} = y.s{j} THEN 1 ELSE 0 END)" for j in range(nh)
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), shl AS (
  SELECT doc_id, {_shingles_sql(3)} AS shingles FROM t
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM shl
), sig AS (
  SELECT doc_id, {mins}
  FROM sh GROUP BY doc_id
), bandv AS (
{band_sel}
), cand AS (
  SELECT DISTINCT b.doc_id AS id_new, c.doc_id AS id_corpus
  FROM bandv b JOIN bandv c ON b.bv = c.bv
  WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
)
SELECT id_new, id_corpus, round(({agree}) / {nh}.0, 6) AS est_jaccard
FROM cand
JOIN sig x ON x.doc_id = id_new
JOIN sig y ON y.doc_id = id_corpus
WHERE round(({agree}) / {nh}.0, 6) >= 0.5
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PPJoin-style prefix filtering
    (operators/dedup.py jaccard_dedup_pairs) — complete, no LSH miss:
    size filter + rarest-first prefix equi-join generate a provably
    sufficient candidate set, exact Jaccard verifies. The oracle is
    the quadratic comparison; the engine must reach the identical
    pair set through the filtered candidates."""
    from etl_core_spark.operators.dedup import jaccard_dedup_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_dedup_pairs(docs, "text", "doc_id", threshold=0.5, shingle_n=3)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (operators/dedup.py
    containment_pairs, Broder 1997): |A∩B|/|A| over distinct
    3-shingle sets — catches short-quoted-in-long redundancy that
    resemblance (Jaccard) misses. xxhash64-keyed shingle equi-join
    with the doc-frequency fan-out cap; the oracle mirrors the cap
    on raw shingle strings (hash-collision-free by 2^-64)."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("containment_pairs")(
        threshold=0.3, shingle_n=3, max_shingle_freq=100
    ).apply({"in": docs})["out"]


_SQL_CONTAINMENT_PAIRS = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), shl AS (
  SELECT doc_id, list_distinct({_shingles_sql(3)}) AS ds FROM t
  WHERE len(list_distinct({_shingles_sql(3)})) > 0
), ex AS (
  SELECT doc_id, unnest(ds) AS s, len(ds) AS n FROM shl
), rare AS (
  SELECT s FROM ex GROUP BY s HAVING count(*) <= 100
), exf AS (
  SELECT ex.* FROM ex JOIN rare USING (s)
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS n_shared, any_value(a.n) AS na
  FROM exf a JOIN exf b USING (s)
  WHERE a.doc_id != b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
       round(n_shared / CAST(na AS DOUBLE), 6) AS containment
FROM p
WHERE round(n_shared / CAST(na AS DOUBLE), 6) >= 0.3
"""


_SQL_JACCARD_PAIRS = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), shl AS (
  SELECT doc_id, {_shingles_sql(3)} AS shingles FROM t
), dsh AS (
  SELECT doc_id, list_distinct(shingles) AS ds FROM shl
  WHERE len(list_distinct(shingles)) > 0
)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       round(len(list_intersect(x.ds, y.ds))
             / CAST(len(list_distinct(list_cat(x.ds, y.ds))) AS DOUBLE), 6)
         AS jaccard
FROM dsh x JOIN dsh y ON x.doc_id < y.doc_id
WHERE round(len(list_intersect(x.ds, y.ds))
      / CAST(len(list_distinct(list_cat(x.ds, y.ds))) AS DOUBLE), 6) >= 0.5
"""


def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 pairs over the distinct source labels via
    SymSpell-style deletion-neighborhood banding (operators/dedup.py
    typo_near_dup_pairs) — candidates from an equi-join on deletion
    keys (no cross join), exact levenshtein verify. The oracle does
    the quadratic form; the engine's plan is the linear-ish one."""
    from etl_core_spark.operators.dedup import typo_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(F.col("source").alias("name")).distinct()
    return typo_near_dup_pairs(
        vals.withColumn("sid", F.col("name")), "name", "sid"
    )


_SQL_TYPO_PAIRS = """
WITH v AS (SELECT DISTINCT source AS s FROM documents)
SELECT a.s AS id_a, b.s AS id_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM v a JOIN v b ON a.s < b.s
WHERE levenshtein(a.s, b.s) <= 1
"""


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified MinHash near-dup pairs
    (operators/dedup.py connected_components): transitive-closure
    clusters, cluster_id = min doc_id reachable. The oracle computes
    the same closure with a DuckDB recursive CTE — one of the few
    genuinely iterative operators that still has an exact SQL
    cross-check."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.dedup import minhash_dedup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.5, num_hashes=4, bands=2, shingle_n=3
    )
    return get_operator("near_dup_clusters")().apply({"pairs": pairs})["out"]


_SQL_NEAR_DUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
pairs AS ({_MINHASH_PAIRS_SELECT}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup operator's minhash_lsh end-to-end output: documents
    with the higher id of every verified near-dup pair removed."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("dedup")(
        method="minhash_lsh", text_col="text", id_col="doc_id",
        threshold=0.5, num_hashes=4, bands=2, shingle_n=3,
    ).apply({"in": docs})["out"]
    return out.select("doc_id", "lang", "source")


_SQL_DEDUP_MINHASH = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), shl AS (
  SELECT doc_id, {_shingles_sql(3)} AS shingles FROM t
), sh AS (
  SELECT doc_id, unnest(shingles) AS s FROM shl
), sig AS (
  SELECT doc_id,
         min(md5('0:' || s)) AS s0, min(md5('1:' || s)) AS s1,
         min(md5('2:' || s)) AS s2, min(md5('3:' || s)) AS s3
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, md5('0|' || s0 || '|' || s1) AS bk FROM sig
  UNION ALL
  SELECT doc_id, md5('1|' || s2 || '|' || s3) AS bk FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
), dsh AS (
  SELECT doc_id, list_distinct(shingles) AS ds FROM shl
), dropped AS (
  SELECT DISTINCT id_b FROM cand
  JOIN dsh x ON x.doc_id = id_a
  JOIN dsh y ON y.doc_id = id_b
  WHERE len(list_intersect(x.ds, y.ds))
        / CAST(len(list_distinct(list_cat(x.ds, y.ds))) AS DOUBLE) >= 0.5
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM dropped)
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.dedup import simhash_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return simhash_fingerprints(docs, "text", "doc_id", shingle_n=2)


_SQL_SIMHASH = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({_shingles_sql(2)}) AS s FROM t
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hv FROM sh
), bits AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM h, range(0, 60) b(b)
  GROUP BY doc_id, b.b
), fp AS (
  SELECT doc_id,
         string_agg(CASE WHEN cnt > 0 THEN '1' ELSE '0' END, '' ORDER BY b DESC) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(fp.simhash, repeat('0', 60)) AS simhash
FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
"""


def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs within hamming distance 8 of each other's simhash, found
    via pigeonhole banding (9 disjoint bands; ≤8 differing bits must
    leave one band untouched) — no all-pairs stage. The oracle does
    the quadratic comparison directly; the Spark side must reach the
    identical pair set through the banded candidates."""
    from etl_core_spark.operators.dedup import simhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, "text", "doc_id", shingle_n=2, max_hamming=8)


_SQL_SIMHASH_PAIRS = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({_shingles_sql(2)}) AS s FROM t
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hv FROM sh
), bits AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM h, range(0, 60) b(b)
  GROUP BY doc_id, b.b
), fp AS (
  SELECT doc_id,
         string_agg(CASE WHEN cnt > 0 THEN '1' ELSE '0' END, '' ORDER BY b DESC) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(list_sum(list_transform(range(1, 61),
              i -> CASE WHEN a.simhash[i] <> b.simhash[i] THEN 1 ELSE 0 END))
              AS BIGINT) AS hamming
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
)
WHERE hamming <= 8
"""


def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via the REGISTRY operator
    (similarity_search method=brute_force) — the JSON-config path a
    registry break would surface here, not just in pytest."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = get_operator("similarity_search")(method="brute_force", k=5).apply(
        {"corpus": emb, "queries": queries}
    )["out"]
    return out.select(
        "query_id",
        "vec_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_ANN_BRUTE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cs
  FROM q CROSS JOIN embeddings e
)
SELECT query_id, vec_id, round(round(cs, 6), 4) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY round(cs, 6) DESC, vec_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (operators/similarity.py mmr_rerank,
    Carbonell & Goldstein 1998): 8 queries fetch a 50-candidate
    brute-force shortlist, then 5 greedy picks trade 6dp-rounded
    cosine relevance against max similarity to the already-picked
    set (λ=0.5, ties by id asc). The oracle unrolls the identical
    greedy trajectory step by step in SQL."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = get_operator("mmr_rerank")(
        k=5, fetch_n=50, lambda_=0.5
    ).apply({"in": emb, "queries": queries})["out"]
    return out.select(
        "query_id", "vec_id", "cosine", "mmr_score", "rank"
    )


def _sql_mmr_rerank(k: int = 5, fetch_n: int = 50) -> str:
    """Unrolled greedy MMR oracle: per step one windowed argmax over
    the live candidates + one state update folding the new winner
    into every candidate's max-similarity."""
    parts = [f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 8
), cand0 AS (
  SELECT qid, e.vec_id AS cid, e.embedding::DOUBLE[] AS cv,
         round(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 6)
           AS rel,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY round(list_cosine_similarity(qv,
                          e.embedding::DOUBLE[]), 6) DESC,
                    e.vec_id ASC) AS rn
  FROM q CROSS JOIN embeddings e
), st0 AS (
  SELECT qid, cid, cv, rel, 0.0 AS ms, FALSE AS sel
  FROM cand0 WHERE rn <= {fetch_n}
)"""]
    for r in range(1, k + 1):
        parts.append(f""", w{r} AS (
  SELECT qid, cid AS wcid, cv AS wv, rel AS wrel,
         0.5 * rel - 0.5 * ms AS wscore
  FROM (
    SELECT st.*, row_number() OVER (
      PARTITION BY qid
      ORDER BY (0.5 * rel - 0.5 * ms) DESC, cid ASC) AS rn
    FROM st{r - 1} st WHERE NOT sel)
  WHERE rn = 1
)""")
        if r < k:
            parts.append(f""", st{r} AS (
  SELECT s.qid, s.cid, s.cv, s.rel,
         CASE WHEN w.wcid IS NULL OR s.cid = w.wcid THEN s.ms
              ELSE greatest(s.ms,
                   round(list_cosine_similarity(s.cv, w.wv), 6)) END AS ms,
         (s.sel OR (w.wcid IS NOT NULL AND s.cid = w.wcid)) AS sel
  FROM st{r - 1} s LEFT JOIN w{r} w ON s.qid = w.qid
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT qid AS query_id, wcid AS vec_id, wrel AS cosine, "
        f"wscore AS mmr_score, CAST({r} AS BIGINT) AS rank FROM w{r}"
        for r in range(1, k + 1)
    )
    parts.append("\n" + sel + "\n")
    return "".join(parts)


_SQL_MMR_RERANK = _sql_mmr_rerank()


def q_ann_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/numpy BLAS ANN kernel (operators/similarity.py
    brute_force_topk_numpy) under the SAME oracle as the JVM
    expression path — identical contract (rank by 6dp-rounded cosine
    desc, corpus id asc), so a single SQL certifies both kernels.
    Routed through the registry (method=brute_force_numpy)."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = get_operator("similarity_search")(
        method="brute_force_numpy", k=5
    ).apply({"corpus": emb, "queries": queries})["out"]
    return out.select(
        "query_id",
        "vec_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.base import get_operator

    # threshold 0.4 is data-reachable on the synthetic embeddings
    # (max pairwise cosine: 0.479 at sf0.001, 0.513 at sf0.01, 0.598
    # at sf0.1; 0.4 yields 66/59/246 pairs) — a 0.9 threshold never
    # fires and certifies nothing
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return get_operator("cosine_near_dup")(threshold=0.4, exact=True).apply(
        {"in": emb}
    )["out"]


_SQL_COSINE_NEAR_DUP = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_core_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=2)


def q_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class k-means assignment table (operators/similarity.py
    kmeans_cluster): 8 clusters seeded from the lowest-id vectors,
    iterations=0 — the fully SQL-expressible shape (the refinement
    fixpoint keeps the ivf_topk_refined rows-only convention);
    unit-dot argmax, ties to the lowest cluster id, ann-convention
    cosine rounding."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    return get_operator("kmeans_cluster")(k=8).apply({"in": emb})["out"]


_SQL_KMEANS_CLUSTER = """
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
), scored AS (
  SELECT e.vec_id, c.cid,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cs,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv)
                      DESC, c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
       round(round(cs, 6), 4) AS cosine
FROM scored WHERE rn = 1
"""


def q_ivf_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_topk with kmeans_iters > 0 (operators/similarity.py:
    refine_centroids): deterministic Lloyd rounds rebalance the
    seeded cells before assignment. Rows-only check by documented
    contract — the refinement fixpoint is deterministic but not
    tractably SQL-expressible; recall properties are pytest-pinned
    (test_dedup_similarity_text.py::test_ivf_kmeans_refinement_*).
    kmeans_iters=1 here: one Lloyd round exercises the full refine
    path; the recall-floor pytest keeps the full iteration depth
    (r9 bench-trim, the pagerank/LPA precedent — the r8 row was the
    bench's slowest at 4.06 s and is rows-only anyway)."""
    from etl_core_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=2, kmeans_iters=1)


_SQL_IVF_TOPK = """
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
), ca AS (
  SELECT e.vec_id AS corpus_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
                      c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
  QUALIFY rn = 1
), qa AS (
  SELECT q.vec_id AS query_id, c.cid,
         row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cv) DESC,
                      c.cid ASC) AS rn
  FROM embeddings q CROSS JOIN cent c
  WHERE q.vec_id < 10
  QUALIFY rn <= 2
), scored AS (
  SELECT qa.query_id, ca.corpus_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]), 6) AS cosine
  FROM qa JOIN ca ON qa.cid = ca.cid
  JOIN embeddings qe ON qe.vec_id = qa.query_id
  JOIN embeddings ce ON ce.vec_id = ca.corpus_id
)
SELECT query_id, corpus_id AS vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, corpus_id ASC) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
"""


def q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN against the PERSISTENT IVF index (operators/similarity.py
    ivf_index_update / ivf_index_topk): corpus cell assignments are
    built once into a cell-partitioned parquet table; the query batch
    assigns itself against the tiny stored centroid table and scans
    ONLY its probed cells' partition directories (plan-asserted in
    tests/test_ivf_index.py). Same parameters as ivf_topk's oracle
    (8 seed centroids, nprobe=2, k=5, no refinement), so the identical
    SQL certifies the persisted path returns exactly what the direct
    path returns."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    idx = _scratch_dir("ivf_idx")
    # registry path end-to-end: the ivf_index SINK builds the
    # persistent index, similarity_search(method=ivf_index) probes it
    get_operator("ivf_index")(index_path=idx, num_centroids=8).write(emb)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return get_operator("similarity_search")(
        method="ivf_index", index_path=idx, k=5, nprobe=2
    ).apply({"queries": queries})["out"]


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile operator (operators/profile.py) in exact-NDV mode:
    melted per-column statistics over orders. The approx default is
    pytest-certified; the oracle needs the exact path."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    return get_operator("profile")(
        columns=["o_orderkey", "o_orderstatus", "o_totalprice",
                 "o_orderpriority", "o_orderdate"],
        approx_ndv=False,
    ).apply({"in": orders})["out"]


_SQL_PROFILE = """
SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT o_orderkey) AS ndv,
       CAST(min(o_orderkey) AS DOUBLE) AS min_num,
       CAST(max(o_orderkey) AS DOUBLE) AS max_num,
       round(avg(o_orderkey), 6) AS mean,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderstatus),
       NULL, NULL, NULL, min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_totalprice),
       CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
       round(avg(o_totalprice), 6), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*),
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderpriority),
       NULL, NULL, NULL, min(o_orderpriority), max(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderdate', count(*),
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderdate),
       NULL, NULL, NULL,
       strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
FROM orders
"""


def q_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink → pruned read, oracle-checked
    end-to-end: orders written partitionBy(o_orderstatus), read back
    with a partition-column filter (the scan touches only the one
    matching directory — pruning plan-asserted in
    tests/test_plans_quality.py), then aggregated. At 100 TB this
    layout is the difference between scanning a shard and scanning
    the lake."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    path = f"{_scratch_dir('pq_part')}/orders_by_status"
    get_operator("write_parquet")(
        filepath=path, partition_by=["o_orderstatus"]
    ).apply({"in": orders})
    back = get_operator("read_parquet")(spark=spark, filepath=path).apply({})["out"]
    return (
        back.where(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_SQL_PARQUET_PARTITIONED = """
SELECT o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 sources, oracle-checked end-to-end: nation → write_csv →
    read_csv. The reader's all-string parity with the reference
    (dtype=str read, csv_io.py) means the oracle casts every column
    to VARCHAR; value equality proves the quoting/escaping round-trip."""
    from etl_core_spark.operators.base import get_operator

    nat = _t(spark, sf_dir, "nation")
    path = f"{_scratch_dir('csv_rt')}/nation_csv"
    get_operator("write_csv")(filepath=path).apply({"in": nat})
    return get_operator("read_csv")(spark=spark, filepath=path).apply({})["out"]


# shared by the csv/excel/xml roundtrips: all three write the nation
# table out and read it back all-string (the reference's dtype=str
# parity), so ONE contract constant serves all three oracle entries
_SQL_NATION_ROUNDTRIP = """
SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
       CAST(n_regionkey AS VARCHAR) AS n_regionkey
FROM nation
"""


def q_excel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7/2.8 sources, oracle-checked end-to-end: nation →
    write_excel → read_excel via the stdlib ``lite`` engine
    (sources/xlsx_lite.py — a real .xlsx on disk, not a monkeypatch).
    All-string read parity, same oracle shape as csv_roundtrip."""
    from etl_core_spark.operators.base import get_operator

    nat = _t(spark, sf_dir, "nation")
    path = f"{_scratch_dir('xlsx_rt')}/nation.xlsx"
    get_operator("write_excel")(filepath=path, engine="lite").apply({"in": nat})
    out = get_operator("read_excel")(spark=spark, filepath=path, engine="lite").apply({})["out"]
    return out.select("n_nationkey", "n_name", "n_regionkey")




def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5/2.6 sources, oracle-checked end-to-end: nation →
    write_xml → read_xml (rowTag records). XML carries no types, so
    the read is all-string — same oracle shape as csv_roundtrip."""
    from etl_core_spark.operators.base import get_operator

    nat = _t(spark, sf_dir, "nation")
    path = f"{_scratch_dir('xml_rt')}/nation.xml"
    get_operator("write_xml")(
        filepath=path, root_tag="nations", record_tag="nation"
    ).apply({"in": nat})
    out = get_operator("read_xml")(
        spark=spark, filepath=path, record_tag="nation"
    ).apply({})["out"]
    return out.select(
        F.col("n_nationkey").cast("string").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("string").alias("n_regionkey"),
    )


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 sources: orders projection → write_json (NDJSON) →
    read_json. long/double/string survive the text round-trip typed
    (dates would come back as strings — excluded by design)."""
    from etl_core_spark.operators.base import get_operator

    proj = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = f"{_scratch_dir('json_rt')}/orders_json"
    get_operator("write_json")(filepath=path).apply({"in": proj})
    # Spark's json writer emits NDJSON; lines=True picks the
    # line-delimited read path (the dir name carries no .jsonl hint)
    out = get_operator("read_json")(spark=spark, filepath=path, lines=True).apply({})["out"]
    return out.select("o_orderkey", "o_totalprice", "o_orderstatus")


_SQL_JSON_ROUNDTRIP = """
SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
"""


def q_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: the first pass of any tokenizer /
    vocab-building pipeline. explode → groupBy is the canonical
    map-side-combinable shape (partial counts before the shuffle)."""
    from etl_core_spark.functions.text import tokens
    from etl_core_spark.session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    exploded = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    return (
        exploded.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_total").desc(), F.col("token").asc())
        .limit(50)
    )


_SQL_TOKEN_FREQ = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), x AS (
  SELECT doc_id, unnest(toks) AS token FROM t
)
SELECT token, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
FROM x GROUP BY token
ORDER BY n_total DESC, token ASC LIMIT 50
"""


def q_tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed TF-IDF (keyword
    extraction / vocab pruning). Ranked on the 6dp-rounded score with
    term-asc tie-break for engine-independent results."""
    from etl_core_spark.operators.text_analysis import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, "text", "doc_id", top_k=3)


_SQL_TF_IDF = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (ln((nd.n + 1) / CAST(dfq.df + 1 AS DOUBLE)) + 1), 6) AS tf_idf
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf_idf,
       CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY tf_idf DESC, term ASC) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 3
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score gate: the cheap pre-filter before dedup in a
    training-data pipeline."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return (
        get_operator("text_analysis")(metrics=("quality_score",))
        .apply({"in": docs})["out"]
        .where(F.col("quality_score") >= 0.5)
        .select("doc_id", "quality_score")
    )


_SQL_QUALITY_FILTER = """
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
         CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   / CAST(length(text) AS DOUBLE)
              ELSE 0.0 END AS punct,
         CASE WHEN len(ltoks) > 0
              THEN len(list_filter(ltoks, x -> list_contains(
                   ['the','and','of','to','a','in','is','it','that','for'], x)))
                   / CAST(len(ltoks) AS DOUBLE)
              ELSE 0.0 END AS sw
  FROM t
), s AS (
  SELECT doc_id,
         round((least(n_tok / 50.0, 1.0)
                + greatest(0.0, 1.0 - punct * 4)
                + CASE WHEN sw > 0.5 THEN 0.5 ELSE least(sw * 4.0, 1.0) END
               ) / 3.0, 6) AS quality_score
  FROM m
)
SELECT doc_id, quality_score FROM s WHERE quality_score >= 0.5
"""


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composite: quality gate → exact dedup (md5 of
    text, min-id survivor) → deterministic hash sample — the
    canonical first three passes of a training-data pipeline, chained
    through the REAL operator registry so the oracle certifies
    operator composition, not just each stage alone."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    scored = get_operator("text_analysis")(metrics=["quality_score"]).apply(
        {"in": docs}
    )["out"]
    kept = scored.where(F.col("quality_score") >= 0.5).withColumn(
        "__h", F.md5("text")
    )
    deduped = get_operator("dedup")(
        method="exact", keys=["__h"], id_col="doc_id"
    ).apply({"in": kept})["out"].drop("__h")
    sampled = get_operator("hash_sample")(key_col="doc_id", rate=0.5).apply(
        {"in": deduped}
    )["out"]
    return sampled.select("doc_id", "lang", "quality_score")


_SQL_TRAINING_PIPELINE = f"""
WITH t AS (
  SELECT doc_id, lang, text,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
         CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ltoks
  FROM documents
), m AS (
  SELECT doc_id, lang, text,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   / CAST(length(text) AS DOUBLE)
              ELSE 0.0 END AS punct,
         CASE WHEN len(ltoks) > 0
              THEN len(list_filter(ltoks, x -> list_contains(
                   ['the','and','of','to','a','in','is','it','that','for'], x)))
                   / CAST(len(ltoks) AS DOUBLE)
              ELSE 0.0 END AS sw
  FROM t
), s AS (
  SELECT doc_id, lang, text,
         round((least(n_tok / 50.0, 1.0)
                + greatest(0.0, 1.0 - punct * 4)
                + CASE WHEN sw > 0.5 THEN 0.5 ELSE least(sw * 4.0, 1.0) END
               ) / 3.0, 6) AS quality_score
  FROM m
), q AS (
  SELECT doc_id, lang, text, quality_score FROM s WHERE quality_score >= 0.5
), surv AS (
  SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
)
SELECT q.doc_id, q.lang, q.quality_score
FROM q JOIN surv USING (doc_id)
WHERE CAST(('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < {int(0.5 * 16 ** 8)}
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH buckets. The seeded
    hyperplanes are driver-side LITERAL floats, so the oracle SQL
    embeds the SAME literals and recomputes the bucket sign pattern in
    DuckDB (the lang_id_ngram shared-profile pattern) — full
    hash-match, not rows-only. Output cosine at 4dp / rank on the 6dp
    value, the ann_brute_force ulp-absorption convention. Routed
    through the registry (method=lsh)."""
    from etl_core_spark.functions import vectors as V
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    # zero-norm queries are dropped on BOTH sides: Spark scores a
    # zero query at cosine 0.0 while DuckDB's list_cosine_similarity
    # yields NaN — a latent hash mismatch if the testdata ever ships
    # a failed-embedding row in the query range (corpus-side zero
    # vectors are already dropped inside lsh_topk)
    queries = emb.filter(
        (F.col("vec_id") < 10) & (V.norm(F.col("embedding")) > 0)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    out = get_operator("similarity_search")(
        method="lsh", dim=64, k=5, num_planes=4
    ).apply({"corpus": emb, "queries": queries})["out"]
    return out.select(
        "query_id",
        "vec_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_ann_lsh() -> str:
    """Oracle for q_ann_lsh, generated from the SAME seeded plane
    literals the Spark plan embeds (operators/similarity.py
    _seeded_planes(64, 4, 42)). Bucket sign is scale-invariant, so the
    oracle dots the RAW embedding against each plane where Spark dots
    the unit vector — identical sign pattern; zero-norm corpus vectors
    are excluded on both sides."""
    from etl_core_spark.operators.similarity import _seeded_planes

    planes = _seeded_planes(64, 4, 42)

    def bucket(v: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(x) for x in p) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({v}, {lit}) >= 0 "
                f"THEN {2 ** i} ELSE 0 END)"
            )
        return "(" + "\n   + ".join(terms) + ")"

    return f"""
WITH c AS (
  SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
         {bucket("embedding::DOUBLE[]")} AS bucket
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         {bucket("embedding::DOUBLE[]")} AS bucket
  FROM embeddings
  WHERE vec_id < 10
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), scored AS (
  SELECT q.query_id, c.corpus_id,
         list_cosine_similarity(q.qv, c.cv) AS cs
  FROM q JOIN c USING (bucket)
)
SELECT query_id, corpus_id AS vec_id, round(round(cs, 6), 4) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY round(cs, 6) DESC, corpus_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_hll_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-mode certification of the HLL sketch aggregate
    (operators/sketch.py hll_distinct): per-user distinct event
    types. DataSketches HLL stays in coupon-list EXACT mode far
    below sketch capacity, and per-user event-type NDV is single
    digits — so the estimate IS the exact distinct count and the
    sketch aggregate hash-matches count(DISTINCT). The full-corpus
    hll_distinct row keeps its rows-only estimate contract; this row
    certifies the same aggregate's algebra where exactness is
    provable."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("hll_distinct")(
        group_cols=["user_id"], value_col="event_type"
    ).apply({"in": ev})["out"]
    return out.select(
        "user_id", F.col("est_ndv").cast("long").alias("est_ndv")
    )


_SQL_HLL_DISTINCT_EXACT = """
SELECT user_id, count(DISTINCT event_type) AS est_ndv
FROM events GROUP BY user_id
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch NDV (operators/sketch.py): per-event-type
    approximate distinct users via DataSketches HLL. Approximate BY
    CONTRACT (rse ~1.6% at lg_k=12) and DuckDB's HLL is a different
    implementation, so there is no value oracle — the driver records
    a rows-only check; the error-bound/merge-algebra certification
    lives in tests/test_sketch.py."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    return get_operator("hll_distinct")(
        group_cols=["event_type"], value_col="user_id"
    ).apply({"in": ev})["out"]


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched
    mapInPandas (decode stubbed — no media libs in container). The
    synthetic media table uses the ASCII-safe payload mode (a real
    binary column whose bytes happen to be a repeated hex digest), so
    DuckDB — whose sha256 only accepts VARCHAR — can rebuild the exact
    payload with repeat(sha256(i)) and hash-match n_bytes + sha256."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.multimodal import synthetic_media

    media = synthetic_media(spark, n=64, payload_bytes=256, ascii_payload=True)
    out = get_operator("multimodal_features")(feature_dim=8).apply(
        {"in": media}
    )["out"]
    return out.select(
        "media_id", "n_bytes", "sha256",
        *[out.feature[i].alias(f"feature_{i}") for i in range(8)],
    )


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode certification (operators/png_codec.py +
    multimodal.png_features): 48 synthetic RGB PNGs whose pixels
    follow a closed-form formula of (media_id, x, y), encoded
    driver-side with filter_mode="cycle" so every scanline filter
    type (None/Sub/Up/Average/Paeth) is on the wire, then decoded
    DISTRIBUTED through the Arrow-batched mapInPandas path. The
    outputs are exact integer channel sums, so the DuckDB oracle
    recomputes them straight from the generating formula — any
    unfilter or inflate bug breaks the sums. Closes the r7-r10
    "codec honestly stubbed" item with a pure-stdlib spec decoder."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.png_codec import encode_png

    rows = []
    for i in range(48):
        w, h = 16 + i % 5, 12 + i % 7
        px = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (7 * x + 13 * y + i) % 256,
                (3 * x + 5 * y + 2 * i) % 256,
                (x * y + i) % 256,
            )
        )
        rows.append((i, encode_png(w, h, px, filter_mode="cycle")))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    out = get_operator("png_features")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return out.select(
        "media_id", "width", "height", "channels",
        "sum_c0", "sum_c1", "sum_c2",
    )


_SQL_PNG_DECODE = """
WITH imgs AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         16 + i % 5 AS w, 12 + i % 7 AS h
  FROM generate_series(0, 47) AS t(i)
), px AS (
  SELECT media_id, w, h, x, y
  FROM imgs, generate_series(0, 19) gx(x), generate_series(0, 17) gy(y)
  WHERE x < w AND y < h
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(SUM((7*x + 13*y + media_id) % 256) AS BIGINT) AS sum_c0,
       CAST(SUM((3*x + 5*y + 2*media_id) % 256) AS BIGINT) AS sum_c1,
       CAST(SUM((x*y + media_id) % 256) AS BIGINT) AS sum_c2
FROM px GROUP BY media_id, w, h
"""


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second image codec certification (operators/bmp_codec.py):
    the SAME closed-form pixel corpus as png_decode, but encoded as
    uncompressed 24-bit BI_RGB BMPs (bottom-up rows, BGR byte order,
    4-byte row padding — the struct-parsing surface), decoded
    DISTRIBUTED through the same format-sniffing png_features path.
    Same oracle shape: exact integer channel sums straight from the
    generating formula — a row-order, byte-order or stride bug breaks
    the sums. Makes image_phash format-agnostic (the cross-format
    identity is pytest-covered in test_bmp_codec.py)."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.bmp_codec import encode_bmp

    rows = []
    for i in range(48):
        w, h = 16 + i % 5, 12 + i % 7
        px = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (7 * x + 13 * y + i) % 256,
                (3 * x + 5 * y + 2 * i) % 256,
                (x * y + i) % 256,
            )
        )
        rows.append((i, encode_bmp(w, h, px)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    out = get_operator("png_features")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return out.select(
        "media_id", "width", "height", "channels",
        "sum_c0", "sum_c1", "sum_c2",
    )


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third image codec certification (operators/gif_codec.py): 48
    synthetic paletted GIFs — palette index (7x+13y+i) % 64 into the
    closed-form palette ((j*3)%256, (j*5)%256, (j*7)%256) — encoded
    driver-side (GIF-variant LZW with variable-width codes) and
    decoded DISTRIBUTED through the same format-sniffing
    png_features path as PNG and BMP. The oracle recomputes the
    channel sums straight from the index/palette formulas, so any
    LZW bit-packing, width-growth, palette or row-order bug breaks
    the sums. Three-format phash identity is pytest-covered
    (test_gif_codec.py)."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.gif_codec import encode_gif

    rows = []
    for i in range(48):
        w, h = 16 + i % 5, 12 + i % 7
        px = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                ((7 * x + 13 * y + i) % 64 * 3) % 256,
                ((7 * x + 13 * y + i) % 64 * 5) % 256,
                ((7 * x + 13 * y + i) % 64 * 7) % 256,
            )
        )
        rows.append((i, encode_gif(w, h, px)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    out = get_operator("png_features")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return out.select(
        "media_id", "width", "height", "channels",
        "sum_c0", "sum_c1", "sum_c2",
    )


_SQL_GIF_DECODE = """
WITH imgs AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         16 + i % 5 AS w, 12 + i % 7 AS h
  FROM generate_series(0, 47) AS t(i)
), px AS (
  SELECT media_id, w, h, (7*x + 13*y + media_id) % 64 AS j
  FROM imgs, generate_series(0, 19) gx(x), generate_series(0, 17) gy(y)
  WHERE x < w AND y < h
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(SUM((j*3) % 256) AS BIGINT) AS sum_c0,
       CAST(SUM((j*5) % 256) AS BIGINT) AS sum_c1,
       CAST(SUM((j*7) % 256) AS BIGINT) AS sum_c2
FROM px GROUP BY media_id, w, h
"""


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash fingerprints (multimodal.image_phash,
    aHash / Zauner 2010) over 48 synthetic RGB PNGs decoded through
    the real stdlib codec. Dimensions are multiples of 8, so every
    8x8 cell has equal pixel count and each hash bit reduces to the
    exact integer test 64*cell_sum > total_sum on the Rec. 601
    luminance (299R+587G+114B, never divided) — the DuckDB oracle
    recomputes the bits straight from the generating pixel formula
    and string_aggs them in cell order."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.png_codec import encode_png

    rows = []
    for i in range(48):
        w, h = 16 + 8 * (i % 4), 16 + 8 * (i % 3)
        px = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (7 * x + 13 * y + i) % 256,
                (3 * x + 5 * y + 2 * i) % 256,
                (x * y + i) % 256,
            )
        )
        rows.append((i, encode_png(w, h, px, filter_mode="cycle")))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    out = get_operator("image_phash")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return out.select("media_id", "width", "height", "phash")


_SQL_IMAGE_PHASH = """
WITH imgs AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         16 + 8*(i % 4) AS w, 16 + 8*(i % 3) AS h
  FROM generate_series(0, 47) AS t(i)
), px AS (
  SELECT media_id, w, h,
         299*((7*x + 13*y + media_id) % 256)
       + 587*((3*x + 5*y + 2*media_id) % 256)
       + 114*((x*y + media_id) % 256) AS lum,
         (y*8//h)*8 + (x*8//w) AS cell
  FROM imgs, generate_series(0, 39) gx(x), generate_series(0, 31) gy(y)
  WHERE x < w AND y < h
), cells AS (
  SELECT media_id, w, h, cell, SUM(lum) AS s
  FROM px GROUP BY media_id, w, h, cell
), tot AS (
  SELECT media_id, SUM(s) AS t FROM cells GROUP BY media_id
)
SELECT c.media_id,
       CAST(c.w AS INTEGER) AS width,
       CAST(c.h AS INTEGER) AS height,
       string_agg(CASE WHEN 64*c.s > tot.t THEN '1' ELSE '0' END, ''
                  ORDER BY c.cell) AS phash
FROM cells c JOIN tot USING (media_id)
GROUP BY c.media_id, c.w, c.h
"""


def q_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode: 40 synthetic 16-bit PCM WAV clips (mono and
    stereo, closed-form integer sawtooth samples s(j) =
    ((a*j + b) % 65536) - 32768 over the FLAT interleaved index)
    encoded by ``wav_codec.encode_wav``, decoded distributed by
    ``multimodal.wav_features`` (struct-only RIFF chunk walk inside
    an Arrow-batched mapInPandas — the png_features shape: narrow
    map, zero shuffle). Every output statistic is an exact integer
    (sum, sum of squares, peak |amplitude|), so the DuckDB oracle
    replays the generating formula bit-for-bit with generate_series —
    no floats anywhere on either side."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.wav_codec import encode_wav

    rows = []
    for i in range(40):
        ch = 1 + (i % 2)
        frames = 200 + 31 * i
        a, b = 3 + 2 * i, 17 * i
        samples = [((a * j + b) % 65536) - 32768
                   for j in range(frames * ch)]
        rows.append((i, encode_wav(8000 + 100 * i, ch, samples)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    out = get_operator("wav_features")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return out.select(
        "media_id", "sample_rate", "channels", "n_frames",
        "sum_amp", "sum_sq", "peak",
    )


_SQL_WAV_FEATURES = """
WITH w AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         8000 + 100*i AS rate, 1 + (i % 2) AS ch,
         200 + 31*i AS frames, 3 + 2*i AS a, 17*i AS b
  FROM generate_series(0, 39) AS t(i)
), s AS (
  SELECT media_id, ((a*j + b) % 65536) - 32768 AS v
  FROM w, generate_series(0, 4095) g(j)
  WHERE j < frames * ch
)
SELECT w.media_id,
       CAST(w.rate AS INTEGER) AS sample_rate,
       CAST(w.ch AS INTEGER) AS channels,
       CAST(w.frames AS BIGINT) AS n_frames,
       CAST(SUM(s.v) AS BIGINT) AS sum_amp,
       CAST(SUM(s.v * s.v) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(s.v)) AS INTEGER) AS peak
FROM w JOIN s USING (media_id)
GROUP BY w.media_id, w.rate, w.ch, w.frames
"""


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer energy-profile audio fingerprints over the same
    closed-form sawtooth corpus as ``wav_features``
    (``multimodal.audio_fingerprint``: decoded 16-bit PCM splits
    into 64 balanced windows — sample j → window j*64//n — and bit
    w is 1 iff 64*E_w > E_total with E_w the exact integer sum of
    squared amplitudes; the audio analog of image_phash's aHash
    rule, no FFT and no floats). The DuckDB oracle replays every bit
    from the generating sample formula with generate_series — ragged
    window boundaries (n not divisible by 64) included."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.wav_codec import encode_wav

    rows = []
    for i in range(40):
        ch = 1 + (i % 2)
        frames = 200 + 31 * i
        a, b = 3 + 2 * i, 17 * i
        samples = [((a * j + b) % 65536) - 32768
                   for j in range(frames * ch)]
        rows.append((i, encode_wav(8000 + 100 * i, ch, samples)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    out = get_operator("audio_fingerprint")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return out.select("media_id", "afp", "n_samples")


_SQL_AUDIO_FP = """
WITH w AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         (200 + 31*i) * (1 + (i % 2)) AS n, 3 + 2*i AS a, 17*i AS b
  FROM generate_series(0, 39) AS t(i)
), s AS (
  SELECT media_id, n, (j*64)//n AS win,
         ((a*j + b) % 65536) - 32768 AS v
  FROM w, generate_series(0, 2817) g(j)
  WHERE j < n
), e AS (
  SELECT media_id, n, win, SUM(v*v) AS ew
  FROM s GROUP BY media_id, n, win
), tot AS (
  SELECT media_id, SUM(ew) AS t FROM e GROUP BY media_id
)
SELECT e.media_id,
       string_agg(CASE WHEN 64*e.ew > tot.t THEN '1' ELSE '0' END, ''
                  ORDER BY e.win) AS afp,
       CAST(MAX(e.n) AS BIGINT) AS n_samples
FROM e JOIN tot USING (media_id)
GROUP BY e.media_id
"""


def q_wav_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup end-to-end (r12 verdict item 4): the natural
    composition of ``audio_fingerprint`` and
    ``hamming_near_dup_pairs`` — the audio mirror of
    ``phash_near_dup_pairs``. The corpus is 20 base clips + one
    variant each: every clip is 64 windows × 16 samples of
    alternating-sign amplitude, loud (1000) or quiet (10) per a
    closed-form window pattern; the variant flips base%4 + 1
    specific windows, so each (base, variant) pair lands at an exact
    planted hamming distance of 1–4 while cross-base pattern
    distances are data-dependent. Candidates come from the balanced
    pigeonhole band-join (never all-pairs); the DuckDB oracle
    recomputes every fingerprint from the per-sample formula and
    pairs them quadratically with BIT xor + bit_count."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.wav_codec import encode_wav

    rows = []
    for i in range(40):
        base, var = divmod(i, 2)
        samples = []
        for w in range(64):
            bit = ((3 * w + 5 * base + w * base) % 7) < 3
            if var and (5 * (w - base)) % 64 <= base % 4:
                bit = not bit
            amp = 1000 if bit else 10
            samples.extend(
                amp if j % 2 == 0 else -amp for j in range(16)
            )
        rows.append((i, encode_wav(8000, 1, samples)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    fp = get_operator("audio_fingerprint")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return get_operator("hamming_near_dup_pairs")(
        fp_col="afp", id_col="media_id", max_hamming=6
    ).apply({"in": fp})["out"]


_SQL_WAV_NEAR_DUP = """
WITH c AS (
  SELECT CAST(i AS BIGINT) AS media_id, i//2 AS b, i % 2 AS var
  FROM generate_series(0, 39) AS t(i)
), s AS (
  SELECT media_id, j//16 AS win,
         CASE WHEN (((3*(j//16) + 5*b + (j//16)*b) % 7) < 3)
                   != (var = 1 AND
                       (((5*((j//16) - b)) % 64) + 64) % 64 <= b % 4)
              THEN 1000 ELSE 10 END * (1 - 2*(j % 2)) AS v
  FROM c, generate_series(0, 1023) g(j)
), e AS (
  SELECT media_id, win, SUM(v*v) AS ew FROM s GROUP BY media_id, win
), tot AS (
  SELECT media_id, SUM(ew) AS t FROM e GROUP BY media_id
), h AS (
  SELECT e.media_id,
         string_agg(CASE WHEN 64*e.ew > tot.t THEN '1' ELSE '0' END, ''
                    ORDER BY e.win) AS afp
  FROM e JOIN tot USING (media_id)
  GROUP BY e.media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.afp::BIT, b.afp::BIT)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.afp::BIT, b.afp::BIT)) <= 6
"""


def _phash_corpus(spark: SparkSession) -> DataFrame:
    """48 synthetic PNGs: 24 base images + one +1-seed luminance
    variant each (shared by ``phash_near_dup_pairs`` and
    ``phash_near_dup_clusters``)."""
    from etl_core_spark.operators.png_codec import encode_png

    rows = []
    for i in range(48):
        base, v = divmod(i, 2)
        s = 16 * base + v
        w, h = 16 + 8 * (base % 4), 16 + 8 * (base % 3)
        px = bytes(
            c
            for y in range(h)
            for x in range(w)
            for c in (
                (7 * x + 13 * y + s) % 256,
                (3 * x + 5 * y + 2 * s) % 256,
                (x * y + s) % 256,
            )
        )
        rows.append((i, encode_png(w, h, px, filter_mode="cycle")))
    return spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)


def q_phash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs: real PNG decode →
    ``image_phash`` aHash fingerprints → ``hamming_near_dup_pairs``
    pigeonhole banding (dedup.py — the simhash band-join reused on
    the 64-bit perceptual hash; candidates are an equi-join on
    (band, bits), the verify one XOR + popcount, never all-pairs).
    The corpus is 24 base images plus one +1-seed variant each: a
    uniform luminance shift preserves every 64*cell_sum > total bit
    except where channel values wrap past 256, so each (base,
    variant) pair lands at a small, data-dependent hamming distance
    while cross-base pairs sit near 32. The DuckDB oracle recomputes
    the bits from the generating pixel formula and pairs them
    quadratically with BIT xor + bit_count — feasible at 48 images,
    which is exactly why the engine side must NOT be quadratic."""
    from etl_core_spark.operators.base import get_operator

    media = _phash_corpus(spark)
    fp = get_operator("image_phash")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    return get_operator("hamming_near_dup_pairs")(
        fp_col="phash", id_col="media_id", max_hamming=10
    ).apply({"in": fp})["out"]


_PHASH_HASHES_CTES = """imgs AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         16*(i//2) + (i % 2) AS s,
         16 + 8*((i//2) % 4) AS w, 16 + 8*((i//2) % 3) AS h
  FROM generate_series(0, 47) AS t(i)
), px AS (
  SELECT media_id, w, h,
         299*((7*x + 13*y + s) % 256)
       + 587*((3*x + 5*y + 2*s) % 256)
       + 114*((x*y + s) % 256) AS lum,
         (y*8//h)*8 + (x*8//w) AS cell
  FROM imgs, generate_series(0, 39) gx(x), generate_series(0, 31) gy(y)
  WHERE x < w AND y < h
), cells AS (
  SELECT media_id, cell, SUM(lum) AS sm FROM px GROUP BY media_id, cell
), tot AS (
  SELECT media_id, SUM(sm) AS t FROM cells GROUP BY media_id
), hashes AS (
  SELECT c.media_id,
         string_agg(CASE WHEN 64*c.sm > tot.t THEN '1' ELSE '0' END, ''
                    ORDER BY c.cell) AS phash
  FROM cells c JOIN tot USING (media_id)
  GROUP BY c.media_id
)"""


_SQL_PHASH_NEAR_DUP = f"""
WITH {_PHASH_HASHES_CTES}
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash::BIT, b.phash::BIT)) AS BIGINT)
         AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash::BIT, b.phash::BIT)) <= 10
"""


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-frame GIF sampling over REAL animated payloads
    (``multimodal.gif_frames`` → ``gif_codec.decode_gif_frames``:
    every image descriptor, full LZW + per-frame local color tables +
    NETSCAPE/GCE extension skipping): 30 synthetic animations of 2–5
    frames, sampled every 2nd frame, each sampled frame emitting its
    placement rectangle and EXACT integer per-channel pixel sums.
    The DuckDB oracle replays the generating per-pixel formula with
    generate_series for exactly the sampled frame indices."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.operators.gif_codec import encode_gif_animation

    rows = []
    for i in range(30):
        nf = 2 + i % 4
        w, h = 8 + 2 * (i % 5), 6 + 3 * (i % 3)
        frames = []
        for f in range(nf):
            frames.append(bytes(
                c
                for y in range(h)
                for x in range(w)
                for c in (
                    ((x + 2 * y + 5 * f + i) % 13 * 19 + i) % 256,
                    ((x + 2 * y + 5 * f + i) % 13 * 7 + 2 * i) % 256,
                    ((x + 2 * y + 5 * f + i) % 13 * 23 + 3 * i) % 256,
                )
            ))
        rows.append((i, encode_gif_animation(w, h, frames)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)
    out = get_operator("gif_frames")(
        every_n=2, max_records_per_batch=8
    ).apply({"in": media})["out"]
    return out.select(
        "media_id", "frame_idx", "frame_left", "frame_top",
        "width", "height", "sum_r", "sum_g", "sum_b",
    )


_SQL_GIF_FRAMES = """
WITH clips AS (
  SELECT CAST(i AS BIGINT) AS media_id, 2 + (i % 4) AS nf,
         8 + 2*(i % 5) AS w, 6 + 3*(i % 3) AS h
  FROM generate_series(0, 29) AS t(i)
), fr AS (
  SELECT media_id, w, h, f
  FROM clips, generate_series(0, 4) g(f)
  WHERE f < nf AND f % 2 = 0
), px AS (
  SELECT media_id, f, w, h,
         ((x + 2*y + 5*f + media_id) % 13 * 19 + media_id) % 256 AS r,
         ((x + 2*y + 5*f + media_id) % 13 * 7 + 2*media_id) % 256 AS g2,
         ((x + 2*y + 5*f + media_id) % 13 * 23 + 3*media_id) % 256 AS b
  FROM fr, generate_series(0, 15) gx(x), generate_series(0, 11) gy(y)
  WHERE x < w AND y < h
)
SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
       CAST(0 AS INTEGER) AS frame_left, CAST(0 AS INTEGER) AS frame_top,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g2) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM px
GROUP BY media_id, f, w, h
"""


def q_phash_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full perceptual image dedup pipeline as ONE certified row
    (r12 verdict item 5): PNG decode → ``image_phash`` →
    ``hamming_near_dup_pairs`` (pigeonhole band-join, never
    all-pairs) → ``near_dup_clusters`` transitive-closure connected
    components, cluster_id = min media_id reachable — the composition
    the ``parquet_image_dedup.json`` example job runs, over the same
    48-image corpus as ``phash_near_dup_pairs`` (24 bases + one
    luminance-shift variant each). The DuckDB oracle recomputes the
    phash bits from the generating pixel formula, pairs them
    quadratically, and closes the pair graph with a recursive CTE —
    exact at 48 images, which is exactly why the engine side must be
    banded + iterative instead."""
    from etl_core_spark.operators.base import get_operator

    media = _phash_corpus(spark)
    fp = get_operator("image_phash")(max_records_per_batch=8).apply(
        {"in": media}
    )["out"]
    pairs = get_operator("hamming_near_dup_pairs")(
        fp_col="phash", id_col="media_id", max_hamming=10
    ).apply({"in": fp})["out"]
    return get_operator("near_dup_clusters")().apply({"pairs": pairs})["out"]


_SQL_PHASH_CLUSTERS = f"""
WITH RECURSIVE {_PHASH_HASHES_CTES},
pairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b
  FROM hashes a JOIN hashes b ON a.media_id < b.media_id
  WHERE bit_count(xor(a.phash::BIT, b.phash::BIT)) <= 10
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src
"""


# payload_bytes=256 over a 64-char hex seed -> exactly 4 repeats;
# the UDF hashes the raw payload BYTES, DuckDB the identical ASCII text.
# feature[i] is digest byte i / 255 as a float: byte i is hex digits
# 2i+1..2i+2 of DuckDB's sha256
_SQL_MULTIMODAL = """
WITH m AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         repeat(sha256(CAST(i AS VARCHAR)), 4) AS payload
  FROM generate_series(0, 63) AS t(i)
)
SELECT media_id,
       CAST(length(payload) AS BIGINT) AS n_bytes,
       sha256(payload) AS sha256,
""" + ",\n".join(
    f"       CAST(CAST('0x' || substr(sha256(payload), {2 * i + 1}, 2) AS INTEGER)"
    f" / 255.0 AS FLOAT) AS feature_{i}"
    for i in range(8)
) + """
FROM m
"""


# --------------------------------------------------------------------------
# round-7 additions: line-level dedup, bigram-LM scoring, PII scan,
# corpus mixing, URL decomposition, ORC source
# --------------------------------------------------------------------------


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_dedup operator (operators/text_analysis.py): CCNet-style
    boilerplate-line removal at WORD granularity on the synthetic
    word-soup documents (delimiter=' '): words appearing in more than
    80% of documents are the corpus's "navigation bars" and are
    removed from every document's rewritten text. Fractional
    threshold → hot set is corpus-size-independent → broadcast
    one-row hot array + pure narrow rewrite (the 100 TB path)."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("line_dedup")(
        text_col="text", id_col="doc_id", delimiter=" ", join_sep=" ",
        max_doc_frac=0.8,
    )
    return op.apply({"in": docs})["out"].select(
        "doc_id", "text_dedup", "n_lines_kept", "n_lines_dropped"
    )


_SQL_LINE_DEDUP = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '),
                     x -> length(trim(x)) >= 1) AS flt
  FROM documents
), l AS (
  SELECT doc_id, unnest(flt) AS line FROM base
), nd AS (
  SELECT count(*) AS n FROM documents
), dfq AS (
  SELECT lower(trim(line)) AS k, count(DISTINCT doc_id) AS ldf
  FROM l GROUP BY 1
), hot AS (
  SELECT k FROM dfq, nd WHERE CAST(ldf AS DOUBLE) > 0.8 * n
), hotl AS (
  SELECT coalesce(list(k), []) AS hl FROM hot
), k2 AS (
  SELECT doc_id, flt,
         list_filter(flt, x -> NOT list_contains(hl, lower(trim(x)))) AS kept
  FROM base, hotl
)
SELECT doc_id,
       coalesce(array_to_string(kept, ' '), '') AS text_dedup,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       CAST(len(flt) - len(kept) AS BIGINT) AS n_lines_dropped
FROM k2
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lm_score operator (operators/text_analysis.py): self-trained
    bigram LM with interpolated absolute discounting (Ney et al.
    1994) — the engine-native analog of CCNet's KenLM perplexity
    quality filter."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("lm_score")(text_col="text", id_col="doc_id")
    return op.apply({"in": docs})["out"].select(
        "doc_id", "n_bigrams", "avg_logprob"
    )


_SQL_LM_SCORE = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), u AS (
  SELECT w, count(*) AS cu
  FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w
), tv AS (
  SELECT sum(cu) AS t, count(*) AS v FROM u
), b AS (
  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2
  FROM (
    SELECT doc_id,
           unnest([{{'w1': toks[i], 'w2': toks[i+1]}}
                   for i in range(1, len(toks))]) AS p
    FROM tok
  )
), cbg AS (
  SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2
), cw1 AS (
  SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n1p FROM b GROUP BY 1
), tf AS (
  SELECT doc_id, w1, w2, count(*) AS tf FROM b GROUP BY 1, 2, 3
), j AS (
  SELECT tf.doc_id, tf.tf,
         greatest(cbg.c2 - 0.75, 0.0) / cw1.c1
         + (0.75 * cw1.n1p / cw1.c1)
           * ((u.cu + 1) / CAST(tv.t + tv.v AS DOUBLE)) AS p
  FROM tf
  JOIN cbg USING (w1, w2)
  JOIN cw1 USING (w1)
  JOIN u ON u.w = tf.w2
  CROSS JOIN tv
), s AS (
  SELECT doc_id, sum(tf) AS nb, sum(tf * ln(p)) AS sl FROM j GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
       round(s.sl / s.nb, 6) AS avg_logprob
FROM documents d LEFT JOIN s USING (doc_id)
"""


def _pii_planted_expr() -> "F.Column":
    """Deterministic PII planted per doc_id — the synthetic documents
    contain none, so the oracle row would otherwise exercise nothing.
    Both engines build the identical string from doc_id."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), did,
        F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com card 1234-5678-9012-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 call 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


_SQL_PII_PLANTED = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail' || CAST(doc_id % 7 AS VARCHAR)"
    " || '.example.com card 1234-5678-9012-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.1 call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pii_scan operator (operators/text_analysis.py): per-kind PII
    counts + placeholder redaction over text with planted
    email/card/ssn/ip/phone identifiers. Counts run per-pattern on
    the RAW text (density signal); redaction applies the fixed
    PII_PATTERNS order."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _pii_planted_expr().alias("text")
    )
    op = get_operator("pii_scan")(text_col="text", redact=True)
    out = op.apply({"in": docs})["out"]
    return out.select(
        "doc_id", "n_pii_email", "n_pii_credit_card", "n_pii_ssn",
        "n_pii_ipv4", "n_pii_phone", "n_pii_total",
        F.col("text_redacted"),
    )


def _sql_pii_redact() -> str:
    from etl_core_spark.functions.text import PII_PATTERNS

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_pii_{kind}"
        for kind, (pat, _tok) in PII_PATTERNS.items()
    )
    total = " + ".join(
        f"len(regexp_extract_all(t, '{pat}'))"
        for kind, (pat, _tok) in PII_PATTERNS.items()
    )
    redacted = "t"
    for _kind, (pat, tok) in PII_PATTERNS.items():
        redacted = f"regexp_replace({redacted}, '{pat}', '{tok}', 'g')"
    return f"""
WITH p AS (
  SELECT doc_id, {_SQL_PII_PLANTED} AS t FROM documents
)
SELECT doc_id,
       {counts},
       CAST({total} AS BIGINT) AS n_pii_total,
       {redacted} AS text_redacted
FROM p
"""


_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.3}
_MIX_TARGET = 3000


def q_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mix_corpora operator (operators/sampling.py): weighted
    token-budget mixture sampling across sources — deterministic
    md5-threshold keep set, sources outside the weight whitelist
    dropped."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("mix_corpora")(
        key_col="doc_id", group_col="source",
        weights=_MIX_WEIGHTS, target_tokens=_MIX_TARGET,
    )
    return op.apply({"in": docs})["out"].select("doc_id", "source")


def _sql_mix_corpora() -> str:
    wsum = sum(_MIX_WEIGHTS.values())
    values = ", ".join(
        f"('{g}', CAST({w / wsum * _MIX_TARGET!r} AS DOUBLE))"
        for g, w in _MIX_WEIGHTS.items()
    )
    return f"""
WITH tk AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok
  FROM documents
), g AS (
  SELECT source, sum(tok) AS gtok FROM tk GROUP BY source
), w AS (
  SELECT * FROM (VALUES {values}) AS w(source, tgt)
), f AS (
  SELECT g.source,
         CASE WHEN g.gtok > 0
              THEN least(CAST(1.0 AS DOUBLE), w.tgt / CAST(g.gtok AS DOUBLE))
              ELSE CAST(1.0 AS DOUBLE) END AS frac
  FROM g JOIN w USING (source)
)
SELECT tk.doc_id, tk.source
FROM tk JOIN f USING (source)
WHERE CAST(('0x' || substr(md5('mix' || CAST(tk.doc_id AS VARCHAR)), 1, 8))
           AS BIGINT)
      < f.frac * CAST({16 ** 8} AS DOUBLE)
"""


def _url_built_expr() -> "F.Column":
    did = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.when(did % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("sub"), (did % 5).cast("string"),
        F.lit(".example"), (did % 3).cast("string"),
        F.lit(".com/p/"), did.cast("string"),
        F.when(did % 3 == 0, F.lit("?ref=rss")).otherwise(F.lit("")),
    )


_SQL_URL_BUILT = (
    "'https://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END"
    " || 'sub' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.example' || CAST(doc_id % 3 AS VARCHAR)"
    " || '.com/p/' || CAST(doc_id AS VARCHAR)"
    " || CASE WHEN doc_id % 3 = 0 THEN '?ref=rss' ELSE '' END"
)


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """url_parts operator (operators/text_analysis.py): URL
    decomposition (regex-only, oracle-mirrorable) rolled up to
    per-registered-domain crawl stats."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _url_built_expr().alias("url")
    )
    parts = get_operator("url_parts")(url_col="url").apply({"in": docs})["out"]
    return (
        parts.groupBy("url_domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("url_host").alias("n_hosts"),
            F.count_distinct("url_path").alias("n_paths"),
            F.sum(F.when(F.col("url_query").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_query"),
        )
        .orderBy("url_domain")
    )


def _sql_domain_stats() -> str:
    from etl_core_spark.functions import text as _TX

    def ext(pattern: str) -> str:
        return f"nullif(regexp_extract(url, '{pattern}', 1), '')"

    host = ext(_TX.URL_HOST_RE)
    return f"""
WITH u AS (
  SELECT doc_id, {_SQL_URL_BUILT} AS url FROM documents
), parts AS (
  SELECT doc_id,
         {host} AS url_host,
         nullif(regexp_extract({host}, '{_TX.REGISTERED_DOMAIN_RE}', 1), '')
           AS url_domain,
         {ext(_TX.URL_PATH_RE)} AS url_path,
         {ext(_TX.URL_QUERY_RE)} AS url_query
  FROM u
)
SELECT url_domain,
       count(*) AS n_urls,
       count(DISTINCT url_host) AS n_hosts,
       count(DISTINCT url_path) AS n_paths,
       CAST(sum(CASE WHEN url_query IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_query
FROM parts GROUP BY url_domain ORDER BY url_domain
"""


_TOKS_RAW = (
    "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)


def q_strip_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strip_duplicate_spans operator (operators/text_analysis.py):
    Lee et al. exact-substring dedup via n-gram tiling — every token
    covered by a corpus-duplicated 8-gram is removed from the
    rewritten text."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("strip_duplicate_spans")(span_tokens=8)
    return op.apply({"in": docs})["out"].select(
        "doc_id", "text_dedup", "n_tokens_kept", "n_tokens_dropped",
        "dup_span_frac",
    )


_SQL_STRIP_SPANS = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_RAW} AS toks FROM documents
), ge AS (
  SELECT doc_id, p['s'] AS s, p['g'] AS g
  FROM (
    SELECT doc_id,
           unnest([{{'s': i - 1, 'g': array_to_string(toks[i:i+7], ' ')}}
                   for i in range(1, len(toks) - 6)]) AS p
    FROM tok
  )
), d AS (
  SELECT g FROM ge GROUP BY g HAVING count(*) >= 2
), ds AS (
  SELECT doc_id, s FROM ge JOIN d USING (g)
), cov AS (
  SELECT DISTINCT doc_id, s + off AS pos
  FROM ds, generate_series(0, 7) AS t(off)
), pos AS (
  SELECT doc_id, unnest(toks) AS tokn,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM tok
), kept AS (
  SELECT * FROM pos ANTI JOIN cov USING (doc_id, pos)
), agg AS (
  SELECT doc_id, string_agg(tokn, ' ' ORDER BY pos) AS td, count(*) AS nk
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, len(toks) AS nt FROM tok
)
SELECT t.doc_id,
       coalesce(a.td, '') AS text_dedup,
       CAST(coalesce(a.nk, 0) AS BIGINT) AS n_tokens_kept,
       CAST(t.nt - coalesce(a.nk, 0) AS BIGINT) AS n_tokens_dropped,
       round(CASE WHEN t.nt > 0
                  THEN (t.nt - coalesce(a.nk, 0)) / CAST(t.nt AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_span_frac
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring_dup_spans operator (operators/substring.py): Lee et
    al. 2022 EXACTSUBSTR, cross-document form — maximal token spans
    covered by 8-grams shared by >= 2 distinct documents, via a
    sorted-k-gram hash join + per-document gaps-and-islands merge (no
    suffix array, nothing driver-sized)."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("substring_dup_spans")(span_tokens=8)
    return op.apply({"in": docs})["out"]


_SQL_SUBSTR_SPANS = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_RAW} AS toks FROM documents
), ge AS (
  SELECT doc_id, p['s'] AS s, p['g'] AS g
  FROM (
    SELECT doc_id,
           unnest([{{'s': i - 1, 'g': array_to_string(toks[i:i+7], ' ')}}
                   for i in range(1, len(toks) - 6)]) AS p
    FROM tok
  )
), d AS (
  SELECT g FROM ge GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), h AS (
  SELECT doc_id, s FROM ge JOIN d USING (g)
), m AS (
  SELECT doc_id, s,
         CASE WHEN lag(s) OVER w IS NULL OR s > lag(s) OVER w + 8
              THEN 1 ELSE 0 END AS brk
  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY s)
), isl AS (
  SELECT doc_id, s,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS isl_id
  FROM m
)
SELECT doc_id,
       CAST(min(s) AS BIGINT) AS span_start,
       CAST(max(s) + 8 AS BIGINT) AS span_end,
       CAST(max(s) + 8 - min(s) AS BIGINT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, isl_id
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring_dedup operator (operators/substring.py): the
    row-preserving EXACTSUBSTR rewrite with keep_one — each
    cross-document duplicated 8-gram's canonical (smallest doc,
    start) occurrence survives, every other copy is stripped from
    the token stream."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("substring_dedup")(span_tokens=8)
    return op.apply({"in": docs})["out"].select(
        "doc_id", "text_dedup", "n_tokens_kept", "n_tokens_dropped",
        "dup_span_frac",
    )


_SQL_SUBSTR_DEDUP = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_RAW} AS toks FROM documents
), ge AS (
  SELECT doc_id, p['s'] AS s, p['g'] AS g
  FROM (
    SELECT doc_id,
           unnest([{{'s': i - 1, 'g': array_to_string(toks[i:i+7], ' ')}}
                   for i in range(1, len(toks) - 6)]) AS p
    FROM tok
  )
), d AS (
  SELECT g FROM ge GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), h AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn
  FROM ge JOIN d USING (g)
), strip AS (
  SELECT doc_id, s FROM h WHERE rn >= 2
), cov AS (
  SELECT DISTINCT doc_id, s + off AS pos
  FROM strip, generate_series(0, 7) AS t(off)
), pos AS (
  SELECT doc_id, unnest(toks) AS tokn,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM tok
), kept AS (
  SELECT * FROM pos ANTI JOIN cov USING (doc_id, pos)
), agg AS (
  SELECT doc_id, string_agg(tokn, ' ' ORDER BY pos) AS td, count(*) AS nk
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, len(toks) AS nt FROM tok
)
SELECT t.doc_id,
       coalesce(a.td, '') AS text_dedup,
       CAST(coalesce(a.nk, 0) AS BIGINT) AS n_tokens_kept,
       CAST(t.nt - coalesce(a.nk, 0) AS BIGINT) AS n_tokens_dropped,
       round(CASE WHEN t.nt > 0
                  THEN (t.nt - coalesce(a.nk, 0)) / CAST(t.nt AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_span_frac
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


def q_assemble_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """assemble_docs operator (operators/text_analysis.py): ordered
    part concatenation — here the INVERSE of chunk_documents, so the
    oracle is the identity: zero-overlap chunking partitions the token
    stream exactly and assembly must reproduce the (whitespace-
    normalized) corpus."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    chunks = get_operator("chunk_documents")(
        text_col="text", id_col="doc_id", chunk_tokens=16, overlap=0
    ).apply({"in": docs})["out"]
    return get_operator("assemble_docs")(
        key_col="doc_id", part_col="chunk_text", order_col="chunk_idx",
        sep=" ",
    ).apply({"in": chunks})["out"]


_SQL_ASSEMBLE_DOCS = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_RAW} AS toks FROM documents
  WHERE length(trim(text)) > 0
)
SELECT doc_id,
       array_to_string(toks, ' ') AS chunk_text_doc,
       CAST(CASE WHEN len(toks) > 16
                 THEN ceil(len(toks) / CAST(16 AS DOUBLE))
                 ELSE 1 END AS BIGINT) AS n_parts
FROM t
"""


def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantile_filter operator (operators/sampling.py): percentile
    gate on a scored column — keep the top quartile of documents by
    n_chars. exact=True for the oracle surface (Spark percentile ==
    DuckDB quantile_cont, the q_percentiles parity); production
    default is the GK sketch."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    op = get_operator("quantile_filter")(value_col="n_chars", q=0.75, exact=True)
    return op.apply({"in": docs})["out"].select("doc_id", "n_chars")


_SQL_QUANTILE_FILTER = """
SELECT doc_id, n_chars FROM documents
WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.75) FROM documents)
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted_sample operator (operators/sampling.py): deterministic
    importance sampling — keep probability proportional to a per-row
    weight (here a length-derived score), md5-threshold decision."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars") / F.lit(200.0)
    )
    out = get_operator("weighted_sample")(
        key_col="doc_id", weight_col="w"
    ).apply({"in": docs})["out"]
    return out.select("doc_id", "w")


_SQL_WEIGHTED_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, n_chars / CAST(200.0 AS DOUBLE) AS w FROM documents
)
SELECT doc_id, w FROM d
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < least(CAST(1.0 AS DOUBLE), greatest(w, CAST(0.0 AS DOUBLE)) * 1.0)
        * CAST({16 ** 8} AS DOUBLE)
"""


def q_take_tokens_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """take_tokens_per_group operator (operators/sampling.py): exact
    per-language token budget, best-first by n_chars — the
    deterministic counterpart to mix_corpora's fractions."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("take_tokens_per_group")(
        group_col="lang", budget_tokens=500, key_col="doc_id",
        order_col="n_chars", descending=True,
    ).apply({"in": docs})["out"]
    return out.select("doc_id", "lang", "n_chars")


_SQL_TAKE_TOKENS = """
WITH d AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok
  FROM documents
)
SELECT doc_id, lang, n_chars FROM d
QUALIFY sum(tok) OVER (
  PARTITION BY lang ORDER BY n_chars DESC, doc_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
) <= 500
"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_orc / write_orc (sources/orc_io.py), oracle-checked
    end-to-end: nation → write_orc → read_orc. ORC preserves types
    (unlike the all-string CSV parity contract), so the oracle is the
    typed table itself."""
    from etl_core_spark.operators.base import get_operator

    nat = _t(spark, sf_dir, "nation")
    path = f"{_scratch_dir('orc_rt')}/nation_orc"
    get_operator("write_orc")(filepath=path, compression="zlib").apply({"in": nat})
    return get_operator("read_orc")(spark=spark, filepath=path).read()


_SQL_ORC_ROUNDTRIP = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


def q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_text / write_text (sources/text_io.py), oracle-checked
    end-to-end: nation is serialized to delimited lines (the NDJSON-
    without-JSON corpus shape), written with write_text, read back in
    line mode and parsed back into typed columns. Line-mode text is
    splittable, so at scale the read parallelizes at block
    boundaries like CSV."""
    from etl_core_spark.operators.base import get_operator

    nat = _t(spark, sf_dir, "nation")
    lines = nat.select(
        F.concat_ws(
            "|",
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.col("n_regionkey").cast("string"),
        ).alias("line")
    )
    path = f"{_scratch_dir('txt_rt')}/nation_txt"
    get_operator("write_text")(filepath=path, column="line").apply({"in": lines})
    back = get_operator("read_text")(spark=spark, filepath=path).read()
    parts = F.split(F.col("value"), "\\|")
    return back.select(
        F.element_at(parts, 1).cast("int").alias("n_nationkey"),
        F.element_at(parts, 2).alias("n_name"),
        F.element_at(parts, 3).cast("int").alias("n_regionkey"),
    )


_SQL_TEXT_ROUNDTRIP = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_binary_files / write_binary_files (sources/binary_io.py),
    oracle-checked end-to-end — the multimodal ingest path: 100
    documents are exported as one binary artifact per doc (executor-
    side writes, driver never holds payloads), then re-ingested with
    the native binaryFile source (pathGlobFilter pruning, per-file
    rows) and fingerprinted. The oracle recomputes byte length and
    sha256 from the source table, certifying the bytes survived the
    round trip exactly."""
    from etl_core_spark.operators.base import get_operator
    from etl_core_spark.session import ensure_parallelism

    # non-empty texts only: the binaryFile source skips zero-length
    # files during planning (contract pinned in
    # tests/test_text_binary_sources.py), so an empty doc would be
    # written but never read back
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").where(
            (F.col("doc_id") < 100) & (F.length(F.coalesce("text", F.lit(""))) > 0)
        )
    )
    payloads = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".bin"))
        .alias("file_name"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
    )
    path = _scratch_dir("bin_rt")
    get_operator("write_binary_files")(filepath=path).apply({"in": payloads})
    back = get_operator("read_binary_files")(
        spark=spark, filepath=path, path_glob="*.bin", file_name_only=True
    ).read()
    return back.select(
        "file_name",
        F.col("length").cast("long").alias("n_bytes"),
        F.lower(F.sha2(F.col("content"), 256)).alias("sha256"),
    )


_SQL_BINARY_INGEST = """
SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       lower(sha256(text)) AS sha256
FROM documents WHERE doc_id < 100 AND octet_length(encode(coalesce(text, ''))) > 0
"""


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection
    (operators/similarity.py random_projection): 64-dim embeddings →
    8 seeded Gaussian directions scaled 1/sqrt(8), the standard
    pre-ANN dimensionality shrink. Pure narrow map over literal
    directions — zero shuffle. The oracle embeds the SAME seeded
    literals (the ann_lsh pattern) and recomputes every component."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    out = get_operator("random_projection")(
        dim=64, out_dim=8, seed=7, vec_col="embedding"
    ).apply({"in": emb})["out"]
    return out.select(
        "vec_id",
        *[F.element_at("proj", j + 1).alias(f"p{j}") for j in range(8)],
    )


def _sql_random_projection() -> str:
    from etl_core_spark.operators.similarity import _seeded_planes

    planes = _seeded_planes(64, 8, 7)
    scale = 1.0 / (8.0 ** 0.5)
    comps = []
    for j, p in enumerate(planes):
        # explicit left-fold chain (((0.0 + e[1]*c1) + e[2]*c2) + ...)
        # so DuckDB accumulates doubles in EXACTLY Spark's strict
        # aggregate order (functions/vectors.py dot); quantization is
        # floor(x*1e4)/1e4 on both sides — floor has no rounding
        # ties, unlike round (Java HALF_UP on the shortest decimal
        # string vs C rounding the binary double diverge on exact
        # ...5 ties: the r7 4/500 miss)
        acc = "0.0"
        for i, x in enumerate(p, start=1):
            acc = f"({acc} + embedding[{i}]::DOUBLE * {x!r})"
        comps.append(
            f"floor({acc} * {scale!r} * 10000.0) / 10000.0 AS p{j}"
        )
    cols = ",\n       ".join(comps)
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings"


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semdedup, Abbas et al. 2023):
    embedding k-means cells (the ivf_topk 8-lowest-id seeding), exact
    within-cell cosine pairs at 6dp, greedy min-id survivors. The
    oracle recomputes the identical assignment (raw-vector cosine —
    scale-invariant, the _SQL_IVF_TOPK discipline) and the identical
    pair set; threshold 0.4 is data-reachable on the synthetic
    embeddings (the cosine_near_dup calibration)."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    out = get_operator("semdedup")(
        threshold=0.4, num_centroids=8, keep="min_id"
    ).apply({"in": emb})["out"]
    return out.select("vec_id")


_SQL_SEMDEDUP = """
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
  ORDER BY vec_id LIMIT 8
), az AS (
  SELECT e.vec_id AS sid, e.embedding::DOUBLE[] AS v, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
                      c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
  QUALIFY rn = 1
), dropped AS (
  SELECT DISTINCT b.sid AS vec_id
  FROM az a JOIN az b ON a.cid = b.cid AND a.sid < b.sid
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


def q_semdedup_atypical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semdedup keep=far_from_centroid — the SemDeDup paper's
    keep-the-atypical survivor rule: within a duplicate pair the
    member MORE similar to its centroid drops (exact tie → higher
    id). Fully SQL-expressible, so the paper policy gets its own
    hash-matched row rather than riding on pytest alone."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    out = get_operator("semdedup")(
        threshold=0.4, num_centroids=8, keep="far_from_centroid"
    ).apply({"in": emb})["out"]
    return out.select("vec_id")


_SQL_SEMDEDUP_ATYPICAL = """
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
  ORDER BY vec_id LIMIT 8
), az AS (
  SELECT e.vec_id AS sid, e.embedding::DOUBLE[] AS v, c.cid,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6)
             AS csim,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
                      c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
  QUALIFY rn = 1
), dropped AS (
  SELECT DISTINCT CASE WHEN a.csim > b.csim THEN a.sid
                       WHEN b.csim > a.csim THEN b.sid
                       ELSE b.sid END AS vec_id
  FROM az a JOIN az b ON a.cid = b.cid AND a.sid < b.sid
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


def q_agg_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r8 aggregation additions (operators/aggregation.py): var /
    skewness / kurtosis (Spark computes POPULATION moments — the
    oracle recomputes them from explicit central sums; DuckDB's own
    skewness/kurtosis apply sample-bias correction and would
    mismatch), any/all as max/min over a boolean cast, mode over a
    constructed tie-free column, and sorted collect_set. The set is
    projected to a '|'-joined string for the driver harness (its
    pandas canonicalizer cannot hash list cells); the OPERATOR keeps
    its array-typed output — only this entry projection is scalar."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders").withColumn(
        "big", F.col("o_totalprice") > 100000
    ).withColumn(
        "bucket",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("a")).otherwise("b"),
    )
    out = get_operator("aggregation")(
        group_by=["o_orderstatus"],
        aggregations=[
            {"src": "o_totalprice", "op": "var", "dest": "var_price"},
            {"src": "o_totalprice", "op": "skewness", "dest": "skew_price"},
            {"src": "o_totalprice", "op": "kurtosis", "dest": "kurt_price"},
            {"src": "big", "op": "any", "dest": "any_big"},
            {"src": "big", "op": "all", "dest": "all_big"},
            {"src": "bucket", "op": "mode", "dest": "mode_bucket"},
            {"src": "o_orderpriority", "op": "collect_set",
             "dest": "priorities"},
        ],
    ).apply({"in": orders})["out"]
    return out.select(
        "o_orderstatus",
        F.round("var_price", 4).alias("var_price"),
        F.round("skew_price", 6).alias("skew_price"),
        F.round("kurt_price", 6).alias("kurt_price"),
        "any_big", "all_big", "mode_bucket",
        # collect_set output is already array_sort-ed
        # (operators/aggregation.py), so the join is deterministic.
        F.array_join("priorities", "|").alias("priorities"),
    )


_SQL_AGG_EXTENDED = """
WITH o AS (
  SELECT o_orderstatus, o_totalprice,
         o_totalprice > 100000 AS big,
         CASE WHEN o_orderkey % 7 = 0 THEN 'a' ELSE 'b' END AS bucket,
         o_orderpriority
  FROM orders
), m AS (
  SELECT o_orderstatus, avg(o_totalprice) AS mu FROM o GROUP BY 1
)
SELECT o.o_orderstatus,
       round(var_samp(o_totalprice), 4) AS var_price,
       round((sum(pow(o_totalprice - mu, 3)) / count(*))
             / pow(sum(pow(o_totalprice - mu, 2)) / count(*), 1.5), 6)
           AS skew_price,
       round((sum(pow(o_totalprice - mu, 4)) / count(*))
             / pow(sum(pow(o_totalprice - mu, 2)) / count(*), 2) - 3, 6)
           AS kurt_price,
       bool_or(big) AS any_big,
       bool_and(big) AS all_big,
       mode(bucket) AS mode_bucket,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|')
           AS priorities
FROM o JOIN m USING (o_orderstatus)
GROUP BY 1, mu
"""


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-shingle overlap between document sources
    (operators/text_analysis.py corpus_overlap): intersection counts,
    per-source distinct sizes, Jaccard. The corpus-level mixing
    diagnostic; oracle recomputes with the shared shingle fragment."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("corpus_overlap")(
        group_col="source", shingle_n=3
    ).apply({"in": docs})["out"]
    return out.orderBy("group_a", "group_b")


def _sql_corpus_overlap() -> str:
    sh = _shingles_sql(3)
    return f"""
WITH grams AS (
  SELECT DISTINCT coalesce(CAST(source AS VARCHAR), '__null__') AS g, sh
  FROM (
    SELECT source, unnest({sh}) AS sh
    FROM (SELECT source, {_TOKS} AS toks FROM documents)
  )
  WHERE length(sh) > 0
), sizes AS (
  SELECT g, count(*) AS n FROM grams GROUP BY 1
), inter AS (
  SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.sh = b.sh AND a.g < b.g
  GROUP BY 1, 2
)
SELECT group_a, group_b, sa.n AS n_a, sb.n AS n_b, n_common,
       round(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6)
           AS jaccard
FROM inter
JOIN sizes sa ON sa.g = group_a
JOIN sizes sb ON sb.g = group_b
"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram collocations by LIFT (operators/text_analysis.py
    collocations): observed/expected adjacent-pair ratio over exact
    integer counts — PMI's exponential, chosen over ln(pmi) because
    the ratio is one fixed IEEE expression tree over integers and so
    cross-engine bit-identical before the floor-quantization (ln is
    not correctly rounded in either engine)."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("collocations")(min_count=5, top_k=50).apply(
        {"in": docs}
    )["out"]
    return out


_SQL_COLLOCATIONS = f"""
WITH t AS (
  SELECT {_TOKS} AS toks FROM documents
), u AS (
  SELECT unnest(toks) AS w FROM t
), uc AS (
  SELECT w, count(*) AS n FROM u GROUP BY w
), tot AS (
  SELECT count(*) AS U FROM u
), bg AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
  FROM t WHERE len(toks) >= 2
), bc AS (
  SELECT (b).w1 AS w1, (b).w2 AS w2, count(*) AS n12
  FROM bg GROUP BY 1, 2
), btot AS (
  SELECT count(*) AS B FROM bg
)
SELECT w1, w2, n12, ua.n AS n1, ub.n AS n2,
       floor((CAST(n12 AS DOUBLE) * U * U)
             / (CAST(B AS DOUBLE) * ua.n * ub.n) * 1e6) / 1e6 AS lift
FROM bc, tot, btot
JOIN uc ua ON ua.w = bc.w1
JOIN uc ub ON ub.w = bc.w2
WHERE n12 >= 5
ORDER BY (CAST(n12 AS DOUBLE) * U * U)
         / (CAST(B AS DOUBLE) * ua.n * ub.n) DESC, w1 ASC, w2 ASC
LIMIT 50
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of l_extendedprice with
    data-derived bounds (operators/profile.py histogram): all bins
    present (empty ones at n=0), inclusive-exclusive edges, top bin
    closed. Edge arithmetic is one fixed IEEE expression tree over
    the exact min/max doubles, so the oracle matches bit-for-bit."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    out = get_operator("histogram")(
        value_col="l_extendedprice", bins=20
    ).apply({"in": li})["out"]
    return out


_SQL_HISTOGRAM = """
WITH v AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
), b AS (
  SELECT min(x) AS lo, max(x) AS hi FROM v
), binned AS (
  SELECT CASE WHEN (hi - lo) / 20 = 0 THEN 0
              ELSE least(CAST(floor((x - lo) / ((hi - lo) / 20)) AS BIGINT), 19)
         END AS bin
  FROM v, b WHERE x >= lo AND x <= hi
), c AS (
  SELECT bin, count(*) AS n FROM binned GROUP BY bin
), spine AS (
  SELECT r.range AS bin, lo, hi FROM range(20) r, b
)
SELECT spine.bin AS bin,
       lo + spine.bin * ((hi - lo) / 20) AS lo_edge,
       lo + (spine.bin + 1) * ((hi - lo) / 20) AS hi_edge,
       coalesce(c.n, 0) AS n
FROM spine LEFT JOIN c ON c.bin = spine.bin
ORDER BY bin
"""


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing (operators/timeseries.py ewma):
    s = 0.3*x + (1-0.3)*s along (ts, event_id) — a total order, so
    the Arrow-batched per-key recursion and the DuckDB recursive CTE
    replay the IDENTICAL float sequence (the oracle parenthesizes
    0.3e0*x + (1e0 - 0.3e0)*s to match); 9dp floors pin rendering."""
    from etl_core_spark.operators.base import get_operator

    # narrow projection: only the key/order/value columns ride the
    # Arrow round-trip (props/event_type would double the bytes)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = get_operator("ewma")(
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", alpha=0.3,
    ).apply({"in": ev})["out"]
    return out.select("event_id", "user_id", "ewma")


_SQL_EWMA = """
WITH RECURSIVE o AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT event_id, user_id, rn, CAST(value AS DOUBLE) AS s
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_id, o.user_id, o.rn,
         0.3e0 * o.value + (1e0 - 0.3e0) * r.s AS s
  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT event_id, user_id, floor(s * 1e9) / 1e9 AS ewma FROM r
"""


def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (operators/timeseries.py
    holt_linear): per-user level+trend along (ts, event_id). Both
    engines replay the IDENTICAL float recursion — the oracle's
    recursive CTE computes l_new once in a subquery layer and reuses
    it, matching the Python fold's parenthesization; 9dp floors pin
    rendering (the ewma precedent)."""
    from etl_core_spark.operators.base import get_operator

    # narrow projection: only the key/order/value columns ride the
    # Arrow round-trip (props/event_type would double the bytes)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = get_operator("holt_linear")(
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", alpha=0.3, beta=0.2,
    ).apply({"in": ev})["out"]
    return out.select("event_id", "user_id", "level", "trend")


_SQL_HOLT_LINEAR = """
WITH RECURSIVE o AS (
  SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT event_id, user_id, rn, x AS l, 0e0 AS b
  FROM o WHERE rn = 1
  UNION ALL
  SELECT event_id, user_id, rn, lnew AS l,
         0.2e0 * (lnew - l_prev) + (1e0 - 0.2e0) * b_prev AS b
  FROM (
    SELECT o.event_id, o.user_id, o.rn,
           0.3e0 * o.x + (1e0 - 0.3e0) * (r.l + r.b) AS lnew,
           r.l AS l_prev, r.b AS b_prev
    FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
  )
)
SELECT event_id, user_id,
       floor(l * 1e9) / 1e9 AS level,
       floor(b * 1e9) / 1e9 AS trend
FROM r
"""


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift alarm (operators/timeseries.py cusum,
    Page 1954): per-user cumulative sums vs target 50, slack 5,
    alarm at 200. The oracle's recursive CTE replays max(0, s + d)
    with identical parenthesization; 9dp floors pin rendering."""
    from etl_core_spark.operators.base import get_operator

    # narrow projection: only the key/order/value columns ride the
    # Arrow round-trip (props/event_type would double the bytes)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = get_operator("cusum")(
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", target=50.0, slack=5.0, threshold=200.0,
    ).apply({"in": ev})["out"]
    return out.select("event_id", "user_id", "s_pos", "s_neg", "alarm")


_SQL_CUSUM = """
WITH RECURSIVE o AS (
  SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT event_id, user_id, rn,
         greatest(0e0, 0e0 + (x - 50e0 - 5e0)) AS sp,
         greatest(0e0, 0e0 + (50e0 - x - 5e0)) AS sn
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_id, o.user_id, o.rn,
         greatest(0e0, r.sp + (o.x - 50e0 - 5e0)) AS sp,
         greatest(0e0, r.sn + (50e0 - o.x - 5e0)) AS sn
  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT event_id, user_id,
       floor(sp * 1e9) / 1e9 AS s_pos,
       floor(sn * 1e9) / 1e9 AS s_neg,
       (sp > 200e0 OR sn > 200e0) AS alarm
FROM r
"""


def q_rolling_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day per-customer order totals
    (operators/timeseries.py rolling_aggregate): RANGE-frame window
    (equal order dates are peers), sums through exact fixed-point
    cents because Spark and DuckDB accumulate windowed double sums in
    different orders (incremental vs segment tree); one division back
    to double is bit-identical."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    out = get_operator("rolling_aggregate")(
        time_col="o_orderdate",
        value_col="o_totalprice",
        window_seconds=30 * 86400,
        partition_cols=["o_custkey"],
        aggs=["sum", "count", "mean"],
    ).apply({"in": orders})["out"]
    return out.select(
        "o_orderkey", "o_custkey", "rolling_sum", "rolling_count",
        "rolling_mean",
    )


_SQL_ROLLING = """
WITH t AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(epoch(o_orderdate) AS BIGINT) AS ts,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), ok AS (
  SELECT o_orderkey, o_custkey,
         CAST(sum(cents) OVER w AS DOUBLE) / 100.0 AS rolling_sum,
         count(o_totalprice) OVER w AS rolling_count,
         CAST(sum(cents) OVER w AS DOUBLE)
             / (count(o_totalprice) OVER w * 100) AS rolling_mean
  FROM t WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY o_custkey ORDER BY ts
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
)
SELECT * FROM ok
UNION ALL
SELECT o_orderkey, o_custkey, NULL, NULL, NULL
FROM t WHERE ts IS NULL
"""


def q_diff_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed A/B dataset comparison (operators/compare.py
    diff_datasets): yesterday's orders export vs today's — dropped
    keys, new keys, and value changes with the per-row list of
    changed columns. One full-outer null-safe join; status decided by
    presence markers. `changed_cols` (already sorted by the
    operator) is projected to a '|'-joined string for the driver
    harness — its pandas canonicalizer cannot hash list cells; the
    OPERATOR keeps its array-typed output."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    left = orders.where(F.col("o_orderkey") % 7 != 0)
    right = orders.where(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 50.0
        ).otherwise(F.col("o_totalprice")),
    )
    out = get_operator("diff_datasets")(
        key_cols=["o_orderkey"],
        compare_cols=["o_totalprice", "o_orderstatus"],
    ).apply({"left": left, "right": right})["out"]
    return out.withColumn(
        "changed_cols", F.array_join("changed_cols", "|")
    )


_SQL_DIFF_DATASETS = """
WITH l AS (
  SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
  FROM orders WHERE o_orderkey % 7 <> 0
), r AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 50.0
              ELSE o_totalprice END AS p,
         o_orderstatus AS s
  FROM orders WHERE o_orderkey % 5 <> 0
)
SELECT coalesce(l.k, r.k) AS o_orderkey,
       CASE WHEN l.k IS NULL THEN 'added'
            WHEN r.k IS NULL THEN 'removed'
            WHEN (l.p IS DISTINCT FROM r.p) OR (l.s IS DISTINCT FROM r.s)
              THEN 'changed'
            ELSE 'unchanged' END AS diff_status,
       -- DuckDB's array_to_string yields NULL on the empty list
       -- (Spark's array_join yields ''); coalesce pins them equal.
       coalesce(array_to_string(
         CASE WHEN l.k IS NULL OR r.k IS NULL THEN CAST([] AS VARCHAR[])
              ELSE list_sort(list_filter(
                     [CASE WHEN l.p IS DISTINCT FROM r.p
                           THEN 'o_totalprice' END,
                      CASE WHEN l.s IS DISTINCT FROM r.s
                           THEN 'o_orderstatus' END],
                     x -> x IS NOT NULL)) END, '|'), '') AS changed_cols
FROM l FULL OUTER JOIN r ON l.k = r.k
"""


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball SCD type-2 dimension merge (operators/compare.py
    scd2_merge): a customer dimension with history takes a batch of
    balance updates plus brand-new keys — changed versions close at
    the effective date, new open versions begin there, no-op updates
    are ignored, history passes through. Single full-outer join;
    every output row emitted from ONE pass via array-explode."""
    from etl_core_spark.operators.base import get_operator

    cust = _t(spark, sf_dir, "customer")
    open_rows = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("2023-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    hist_rows = cust.where(F.col("c_custkey") % 13 == 0).select(
        F.col("c_custkey").alias("custkey"),
        (F.col("c_acctbal") - 500.0).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("2022-01-01")).alias("valid_from"),
        F.to_date(F.lit("2023-01-01")).alias("valid_to"),
    )
    current = open_rows.unionByName(hist_rows)
    updates = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            (F.col("c_acctbal") + 100.0).alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
            F.to_date(F.lit("2024-06-01")).alias("eff"),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 17 == 0).select(
                (F.col("c_custkey") + F.lit(1000000)).alias("custkey"),
                F.lit(0.0).alias("acctbal"),
                F.lit("NEW").alias("segment"),
                F.to_date(F.lit("2024-06-01")).alias("eff"),
            )
        )
    )
    return get_operator("scd2_merge")(
        key_cols=["custkey"],
        tracked_cols=["acctbal", "segment"],
        effective_col="eff",
    ).apply({"current": current, "updates": updates})["out"]


_SQL_SCD2_MERGE = """
WITH open_ AS (
  SELECT c_custkey AS custkey, c_acctbal AS acctbal,
         c_mktsegment AS segment, DATE '2023-01-01' AS valid_from
  FROM customer
), hist AS (
  SELECT c_custkey AS custkey, c_acctbal - 500.0 AS acctbal,
         c_mktsegment AS segment, DATE '2022-01-01' AS valid_from,
         DATE '2023-01-01' AS valid_to
  FROM customer WHERE c_custkey % 13 = 0
), upd AS (
  SELECT c_custkey AS custkey, c_acctbal + 100.0 AS acctbal,
         c_mktsegment AS segment, DATE '2024-06-01' AS eff
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 0.0, 'NEW', DATE '2024-06-01'
  FROM customer WHERE c_custkey % 17 = 0
), j AS (
  SELECT o.custkey AS ok, o.acctbal AS oa, o.segment AS os,
         o.valid_from AS ofr, u.custkey AS uk, u.acctbal AS ua,
         u.segment AS us, u.eff AS eff
  FROM open_ o FULL OUTER JOIN upd u ON o.custkey = u.custkey
)
SELECT custkey, acctbal, segment, valid_from, valid_to FROM hist
UNION ALL
-- open version with no update, or a no-op update: stays open
SELECT ok, oa, os, ofr, CAST(NULL AS DATE) FROM j
WHERE ok IS NOT NULL
  AND (uk IS NULL OR (oa IS NOT DISTINCT FROM ua
                      AND os IS NOT DISTINCT FROM us))
UNION ALL
-- changed: the superseded version closes at the effective date
SELECT ok, oa, os, ofr, eff FROM j
WHERE ok IS NOT NULL AND uk IS NOT NULL
  AND (oa IS DISTINCT FROM ua OR os IS DISTINCT FROM us)
UNION ALL
-- changed or brand-new key: a new open version begins
SELECT uk, ua, us, eff, CAST(NULL AS DATE) FROM j
WHERE uk IS NOT NULL
  AND (ok IS NULL OR oa IS DISTINCT FROM ua OR os IS DISTINCT FROM us)
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application (operators/compare.py cdc_apply): the
    orders snapshot takes a derived change batch — two competing
    updates per %14 key (last sequence wins), deletes (%11, beating
    earlier updates on shared keys), brand-new inserts (%19, carried
    o_custkey NULL — the log has no image for it), and deletes of
    never-present keys (%23, a no-op). ONE keyed window over the
    batch + ONE null-safe full-outer join; the oracle replays the
    identical last-writer-wins rule (explicit NULLS LAST tiebreak
    chain)."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def ch(where, key, seq, op, status, price):
        return orders.where(where).select(
            key.alias("o_orderkey"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
            status.alias("o_orderstatus"),
            price.alias("o_totalprice"),
        )

    nul_s = F.lit(None).cast("string")
    nul_d = F.lit(None).cast("double")
    changes = (
        ch(k % 7 == 0, k, 1, "U", F.lit("U1"), F.col("o_totalprice") + 100.0)
        .unionByName(ch(k % 14 == 0, k, 2, "U", F.lit("U2"),
                        F.col("o_totalprice") + 200.0))
        .unionByName(ch(k % 11 == 0, k, 3, "D", nul_s, nul_d))
        .unionByName(ch(k % 19 == 0, k + 100000000, 1, "I", F.lit("NEW"),
                        F.lit(1.0)))
        .unionByName(ch(k % 23 == 0, k + 200000000, 1, "D", nul_s, nul_d))
    )
    out = get_operator("cdc_apply")(key_cols=["o_orderkey"]).apply(
        {"snapshot": orders, "changes": changes}
    )["out"]
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


_SQL_CDC_APPLY = """
WITH ch AS (
  SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, 'U1' AS status,
         o_totalprice + 100.0 AS price
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 2, 'U', 'U2', o_totalprice + 200.0
  FROM orders WHERE o_orderkey % 14 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
  FROM orders WHERE o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, 1, 'I', 'NEW', 1.0
  FROM orders WHERE o_orderkey % 19 = 0
  UNION ALL
  SELECT o_orderkey + 200000000, 1, 'D', CAST(NULL AS VARCHAR),
         CAST(NULL AS DOUBLE)
  FROM orders WHERE o_orderkey % 23 = 0
), last AS (
  SELECT k, op, status, price FROM (
    SELECT ch.*, row_number() OVER (
      PARTITION BY k
      ORDER BY seq DESC NULLS LAST, op DESC NULLS LAST,
               status DESC NULLS LAST, price DESC NULLS LAST) AS rn
    FROM ch) WHERE rn = 1
)
SELECT coalesce(s.o_orderkey, l.k) AS o_orderkey,
       s.o_custkey AS o_custkey,
       CASE WHEN l.k IS NOT NULL THEN l.status
            ELSE s.o_orderstatus END AS o_orderstatus,
       CASE WHEN l.k IS NOT NULL THEN l.price
            ELSE s.o_totalprice END AS o_totalprice
FROM orders s FULL OUTER JOIN last l ON s.o_orderkey = l.k
WHERE l.k IS NULL OR l.op <> 'D'
"""


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership flagging (operators/sketch.py
    bloom_membership): every document probed against a benchmark
    set (texts of the %17 cohort) through a m=2^14, k=3 Bloom filter
    — no false negatives; false positives deterministic (md5
    positions), so the oracle replays the identical filter with the
    same three hash functions and three broadcast-shaped left joins.
    The 100 TB story: the corpus side never shuffles — the filter is
    a ≤m-row broadcast position table."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    members = docs.where(F.col("doc_id") % 17 == 0).select("text")
    out = get_operator("bloom_membership")(
        key_col="text", m_bits=1 << 14, k=3
    ).apply({"in": docs, "keys": members})["out"]
    return out.select("doc_id", "bloom_hit")


_BLOOM_H = (
    "CAST(('0x' || substr(md5('bloom:{i}:' || coalesce({x}, "
    "chr(0) || '__NULL_KEY__')), 1, 8)) AS BIGINT) % 16384"
)

_SQL_BLOOM_DECONTAMINATE = """
WITH members AS (
  SELECT text FROM documents WHERE doc_id % 17 = 0
), pos AS (
  SELECT DISTINCT {h0m} AS p FROM members
  UNION
  SELECT DISTINCT {h1m} FROM members
  UNION
  SELECT DISTINCT {h2m} FROM members
)
SELECT d.doc_id AS doc_id,
       (p0.p IS NOT NULL AND p1.p IS NOT NULL AND p2.p IS NOT NULL)
         AS bloom_hit
FROM documents d
LEFT JOIN pos p0 ON p0.p = {h0d}
LEFT JOIN pos p1 ON p1.p = {h1d}
LEFT JOIN pos p2 ON p2.p = {h2d}
""".format(
    h0m=_BLOOM_H.format(i=0, x="text"),
    h1m=_BLOOM_H.format(i=1, x="text"),
    h2m=_BLOOM_H.format(i=2, x="text"),
    h0d=_BLOOM_H.format(i=0, x="d.text"),
    h1d=_BLOOM_H.format(i=1, x="d.text"),
    h2d=_BLOOM_H.format(i=2, x="d.text"),
)



def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order layout key (functions/layout.py zvalue via
    operators/layout.py zorder_key, range method): p_size and
    p_retailprice each min-max normalized to a 2^16 grid, bucket bits
    interleaved — the write-time clustering key behind the parquet
    sink's zorder_by option, certified here as closed-form
    deterministic arithmetic (ONE tiny min/max aggregate + shift/mask
    codegen; the oracle unrolls the identical 16-bit interleave)."""
    from etl_core_spark.operators.base import get_operator

    part = _t(spark, sf_dir, "part")
    out = get_operator("zorder_key")(
        cols=["p_size", "p_retailprice"]
    ).apply({"in": part})["out"]
    return out.select("p_partkey", "zvalue")


def _zorder_sql() -> str:
    def spread(bucket: str, offset: int) -> str:
        return " + ".join(
            f"((({bucket} >> {b}) & 1) << {b * 2 + offset})"
            for b in range(16)
        )

    def bucket(col: str, i: int) -> str:
        lo, hi = f"mm.lo{i}", f"mm.hi{i}"
        frac = (
            f"CASE WHEN {hi} - {lo} > 0 THEN "
            f"(CAST({col} AS DOUBLE) - {lo}) / ({hi} - {lo}) "
            f"ELSE 0.0 END"
        )
        return (
            f"coalesce(least(CAST(floor(({frac}) * 65536) AS BIGINT), "
            f"65535), 0)"
        )

    return f"""
WITH mm AS (
  SELECT min(CAST(p_size AS DOUBLE)) AS lo0,
         max(CAST(p_size AS DOUBLE)) AS hi0,
         min(CAST(p_retailprice AS DOUBLE)) AS lo1,
         max(CAST(p_retailprice AS DOUBLE)) AS hi1
  FROM part
), b AS (
  SELECT p_partkey,
         {bucket("p_size", 0)} AS b0,
         {bucket("p_retailprice", 1)} AS b1
  FROM part, mm
)
SELECT p_partkey, {spread("b0", 0)} + {spread("b1", 1)} AS zvalue
FROM b
"""


_SQL_ZORDER_KEY = _zorder_sql()


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (operators/timeseries.py winsorize):
    event values clipped to the exact interpolated [p5, p95] of
    their event_type — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the interpolation bit-for-bit (the
    q_percentiles precedent); NULL/NaN pass through; 6dp floor
    quantization. One percentile aggregate + one keyed join-back +
    a narrow clip."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("winsorize")(
        value_col="value", group_cols=["event_type"],
        lower=0.05, upper=0.95,
    ).apply({"in": ev})["out"]
    return out.select("event_id", "event_type", "value_w")


_SQL_WINSORIZE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(CASE WHEN NOT isnan(CAST(value AS DOUBLE))
                            THEN CAST(value AS DOUBLE) END, 0.05) AS lo,
         quantile_cont(CASE WHEN NOT isnan(CAST(value AS DOUBLE))
                            THEN CAST(value AS DOUBLE) END, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CASE WHEN e.value IS NULL OR isnan(CAST(e.value AS DOUBLE))
                 THEN CAST(e.value AS DOUBLE)
            WHEN b.lo IS NULL THEN CAST(e.value AS DOUBLE)
            ELSE floor(least(greatest(CAST(e.value AS DOUBLE), b.lo),
                             b.hi) * 1000000.0) / 1000000.0
       END AS value_w
FROM events e LEFT JOIN b ON e.event_type = b.event_type
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outliers by modified z-score (operators/
    timeseries.py mad_outliers, Iglewicz-Hoaglin 0.6745*(x-med)/MAD):
    exact median + MAD via the certified percentile/quantile_cont
    interpolation parity; two broadcast stats join-backs, big side
    narrow."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("mad_outliers")(
        value_col="value",
        group_cols=["event_type"],
        threshold=3.5,
        # event_type cardinality is known-tiny; the combined stats
        # table's size estimate is opaque post-join, so force the hint
        broadcast_stats=True,
    ).apply({"in": ev})["out"]
    return out.select(
        "event_id", "event_type", "value", "median", "mad",
        "robust_z", "is_outlier",
    )


_SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS m
  FROM events GROUP BY event_type
), d AS (
  SELECT e.event_id, e.event_type, e.value, med.m
  FROM events e JOIN med USING (event_type)
), mad AS (
  SELECT event_type,
         quantile_cont(abs(CAST(value AS DOUBLE) - m), 0.5) AS md
  FROM d GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       round(d.m, 6) AS median, round(mad.md, 6) AS mad,
       round(CASE WHEN mad.md IS NOT NULL AND mad.md > 0
                  THEN 0.6744897501960817 * (CAST(d.value AS DOUBLE) - d.m)
                       / mad.md
                  WHEN d.value IS NOT NULL THEN 0.0 END, 6) AS robust_z,
       coalesce(abs(CASE WHEN mad.md IS NOT NULL AND mad.md > 0
                         THEN 0.6744897501960817
                              * (CAST(d.value AS DOUBLE) - d.m) / mad.md
                    END) > 3.5, FALSE) AS is_outlier
FROM d JOIN mad USING (event_type)
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (operators/timeseries.py
    retention_cohorts): users cohorted by first-seen ISO week,
    distinct actives per (cohort, week-offset) cell. First-seen is a
    map-side-combinable min; join-back AQE-sized on the user key."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    return get_operator("retention_cohorts")(
        user_col="user_id", time_col="ts", granularity="week"
    ).apply({"in": ev})["out"]


_SQL_RETENTION_COHORTS = """
WITH ev AS (
  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS b
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), f AS (
  SELECT u, min(b) AS cohort FROM ev GROUP BY u
)
SELECT f.cohort AS cohort,
       CAST(date_diff('day', f.cohort, ev.b) / 7 AS INT) AS period_offset,
       count(DISTINCT ev.u) AS n_users
FROM ev JOIN f USING (u)
GROUP BY 1, 2
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    journeys (operators/timeseries.py markov_transitions): adjacent
    (state -> next) counts and conditional probabilities; ordering is
    (ts, event_id) — total, so lead() is deterministic in both
    engines. p is ONE division of exact integers: bit-identical
    before the 6dp round."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    return get_operator("markov_transitions")(
        user_col="user_id",
        time_col="ts",
        event_col="event_type",
        order_cols=["event_id"],
    ).apply({"in": ev})["out"]


_SQL_MARKOV_TRANSITIONS = """
WITH s AS (
  SELECT event_type AS from_event,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_event
  FROM events
), t AS (
  SELECT from_event, to_event, count(*) AS n
  FROM s WHERE to_event IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT from_event, sum(n) AS total FROM t GROUP BY 1
)
SELECT t.from_event, t.to_event, t.n,
       round(CAST(t.n AS DOUBLE) / CAST(tot.total AS DOUBLE), 6) AS p
FROM t JOIN tot USING (from_event)
"""


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys (operators/timeseries.py event_paths): each
    user's first-8-event chronological path as a>b>c, counted, top-20
    (count desc, path asc). In-group order comes from array_sort over
    (ts, event_id, event) structs INSIDE the aggregate — no window;
    top-k is TakeOrdered. Strings + integer counts: bit-exact."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    return get_operator("event_paths")(
        user_col="user_id",
        time_col="ts",
        event_col="event_type",
        order_cols=["event_id"],
        max_len=8,
        top_k=20,
    ).apply({"in": ev})["out"]


_SQL_EVENT_PATHS = """
WITH p AS (
  SELECT user_id,
         array_to_string(
           list_slice(list(event_type ORDER BY ts, event_id), 1, 8),
           '>') AS path
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
  GROUP BY user_id
)
SELECT path, count(*) AS n FROM p
GROUP BY path ORDER BY n DESC, path ASC LIMIT 20
"""


def q_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy hitters (operators/sketch.py approx_topk,
    Misra-Gries per partition + exact candidate recount): top-50
    corpus tokens. capacity is sized above the corpus vocabulary here,
    so the MG guarantee bar (k-th frequency > n/capacity) is met and
    the result equals the exact top-50 — which is exactly what the
    oracle computes; the eviction path is pytest-certified separately
    on a forced-small capacity."""
    from pyspark.sql import functions as F

    from etl_core_spark.functions.text import tokens
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens(F.trim(F.lower(F.col("text"))))).alias("tok")
    )
    return get_operator("approx_topk")(
        col="tok", k=50, capacity=65536
    ).apply({"in": toks})["out"]


_SQL_APPROX_TOPK = f"""
WITH u AS (
  SELECT unnest({_TOKS}) AS v FROM documents
), c AS (
  SELECT v, count(*) AS n FROM u GROUP BY v
)
SELECT v AS value, n FROM c ORDER BY n DESC, value ASC LIMIT 50
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-batch equality for bounded-state streaming dedup
    (streaming/stream.py streaming_dedup,
    dropDuplicatesWithinWatermark): the events table replayed as ONE
    availableNow micro-batch — watermark eviction only runs BETWEEN
    batches, so every key stays remembered for the whole batch and
    the first-arrival survivors' KEY COLUMNS equal batch DISTINCT
    exactly (keys-only projection: which duplicate's payload
    survives is arrival-order-dependent by contract, the key set is
    not). Fourth certified streaming shape (MG state / timers /
    windowed agg / dedup state store)."""
    import os
    import shutil
    import tempfile

    from etl_core_spark.streaming import streaming_dedup

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="stream_dedup_", dir=shm)
    try:
        src = os.path.join(work, "src")
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        deduped = streaming_dedup(
            stream, ["user_id", "event_type"], "ts"
        ).select("user_id", "event_type")
        out_dir = os.path.join(work, "out")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            q = (
                deduped.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        rows = spark.read.parquet(out_dir).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "user_id long, event_type string"
    )


_SQL_STREAMING_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-batch equality certification for streaming_topk
    (streaming/stream.py): a REAL availableNow file-stream over the
    documents table runs the sharded Misra-Gries state operator; with
    capacity sized above the corpus vocabulary no counter is ever
    evicted, so each shard's final snapshot holds exact counts and
    the cross-shard union ranked (n desc, value asc) must equal the
    certified batch ``approx_topk`` answer — the oracle IS
    ``_SQL_APPROX_TOPK``. Update-mode snapshots are folded per shard
    (each touched shard re-emits its full counter set per
    micro-batch, so the latest batch per shard wins); the driver-side
    fold is capacity-bounded by construction — the documented
    snapshot collect, never stream-sized."""
    import shutil
    import tempfile

    from etl_core_spark.functions.text import tokens
    from etl_core_spark.streaming import streaming_topk

    docs_path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(docs_path).schema
    # FileStreamSource requires a directory basePath; the glob keeps
    # the listing pinned to the single documents file.
    stream = spark.readStream.schema(schema).parquet(
        f"{sf_dir}/documents.parque*"
    )
    toks = stream.select(
        F.explode(tokens(F.trim(F.lower(F.col("text"))))).alias("tok")
    )
    out = streaming_topk(toks, "tok", capacity=65536, n_shards=8)

    shard_state: dict[int, dict[int, dict]] = {}

    def capture(bdf, bid):
        per_shard: dict = {}
        for r in bdf.collect():  # capacity-bounded snapshot
            per_shard.setdefault(r["shard"], {})[r["value"]] = int(
                r["mg_count"]
            )
        for shard, counters in per_shard.items():
            shard_state[shard] = {"bid": bid, "counters": counters}

    # ephemeral certification checkpoint: /dev/shm when present —
    # the stream's cost is dominated by state-store/commit-log
    # fsyncs, pure overhead for a throwaway availableNow run (a
    # REAL deployment points this at durable storage)
    import os

    ckpt_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix="stream_topk_ckpt_", dir=ckpt_root)
    # state-partition sizing: stateful shuffles allocate one state
    # store PER shuffle partition; at 32 the n_shards=8 stream pays
    # 4x its state-store/commit-log file I/O for nothing. Pin the
    # stream's shuffle width to n_shards and restore (the
    # extract_features conf-restore pattern).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            out.writeStream.foreachBatch(capture)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)

    final = [
        (v, n)
        for s in shard_state.values()
        for v, n in s["counters"].items()
    ]
    return (
        spark.createDataFrame(final, "value string, n bigint")
        .orderBy(F.desc("n"), F.asc("value"))
        .limit(50)
    )


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-batch equality certification for the stateful
    streaming sessionizer (streaming/stream.py sessionize,
    applyInPandasWithState + EventTimeTimeout): a REAL availableNow
    file-stream over the events table plus one far-future SENTINEL
    row (user_id −1, year-2100 constant). The watermark is computed
    from ALL data the batch saw, so after the single data
    micro-batch it sits decades past the last real event and the
    trailing no-data batch fires every real session's event-time
    timer — in-batch
    gaps close mid-sessions, timers close each user's final session:
    EVERY real session emits deterministically in TWO micro-batches
    (the cheapest certification shape). The emitted sessions must
    then equal the full batch
    gaps-and-islands answer, which is the DuckDB oracle. Event times
    truncate to whole seconds in the state function (int64
    ns // 1e9), mirrored by floor(epoch(ts)) in the SQL."""
    import datetime
    import os
    import shutil
    import tempfile

    from etl_core_spark.streaming import sessionize

    # deterministic 1-in-4 user panel (VERDICT r10 #5): what this row
    # certifies is the STATEFUL SHAPE (timers, watermark, state
    # eviction), not corpus size — the panel quarters the bench cost
    # at every sf and the oracle applies the same predicate
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") % 4 == 0)
        .select("user_id", "ts")
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="stream_sess_", dir=shm)
    try:
        src = os.path.join(work, "src")
        # constant far-future sentinel (data is 2024-vintage): no
        # max(ts) pre-scan needed, and the parallel multi-file stage
        # write is safe because with maxFilesPerTrigger unset the
        # FileStreamSource takes every file in ONE data micro-batch
        sentinel = datetime.datetime(2100, 1, 1)
        ev.unionByName(
            spark.createDataFrame([(-1, sentinel)], ev.schema)
        ).write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out_dir = os.path.join(work, "out")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
            q = (
                sessionize(stream)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        got = spark.read.parquet(out_dir).where(F.col("user_id") >= 0)
        rows = got.select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias(
                "session_start"
            ),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        ).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, session_start timestamp_ntz, "
        "session_end timestamp_ntz, n_events long",
    )


_SQL_STREAMING_SESSIONIZE = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events
  WHERE user_id % 4 = 0
), g AS (
  SELECT user_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
                   OR s - lag(s) OVER (PARTITION BY user_id ORDER BY s)
                      > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
), isl AS (
  SELECT user_id, s,
         sum(brk) OVER (PARTITION BY user_id ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       make_timestamp(min(s) * 1000000) AS session_start,
       make_timestamp(max(s) * 1000000) AS session_end,
       count(*) AS n_events
FROM isl GROUP BY user_id, sid
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/selection.py dsir_weights,
    Xie et al. 2023): hashed unigram+bigram bucket features, target
    distribution fit on the src0/src1 slice, raw on the whole
    corpus; log_weight = Σ tf · (ln p_b − ln q_b) with additive
    smoothing. md5-bucket arithmetic and e0 double literals shared
    with the oracle; 6dp floor quantization (the lm_score ln
    precedent)."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src0", "src1"))
    out = get_operator("dsir_weights")(num_buckets=8192).apply(
        {"in": docs, "target": target}
    )["out"]
    return out.select("doc_id", "n_features", "log_weight")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel top-k resampling (operators/selection.py
    dsir_select): deterministic Gumbel perturbation from the md5
    hash-bucket of the doc id (never rand() — the shuffle_rows
    discipline), top-100 by perturbed weight. The oracle replays the
    identical arithmetic; selection certified at full value level."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src0", "src1"))
    out = get_operator("dsir_select")(k=100, num_buckets=8192).apply(
        {"in": docs, "target": target}
    )["out"]
    return out.select("doc_id", "n_features", "log_weight", "gumbel_key")


_DSIR_FEATS = (
    "list_concat("
    "list_transform(toks, w -> 'u:' || w), "
    "list_transform(range(1, greatest(len(toks), 1)), "
    "i -> 'b:' || toks[i] || ' ' || toks[i + 1]))"
)

_DSIR_CORE = f"""
tok AS (
  SELECT doc_id, source, {_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 8192 AS b
  FROM (SELECT doc_id, source, unnest({_DSIR_FEATS}) AS f FROM tok)
), ct AS (
  SELECT b, count(*) AS cT FROM feat
  WHERE source IN ('src0', 'src1') GROUP BY b
), cr AS (
  SELECT b, count(*) AS cR FROM feat GROUP BY b
), tt AS (SELECT coalesce(sum(cT), 0) AS t FROM ct),
tr AS (SELECT coalesce(sum(cR), 0) AS t FROM cr),
ratio AS (
  SELECT coalesce(ct.b, cr.b) AS b,
         ln((coalesce(cT, 0) + 1.0e0) / (tt.t + 1.0e0 * 8192))
         - ln((coalesce(cR, 0) + 1.0e0) / (tr.t + 1.0e0 * 8192)) AS lr
  FROM ct FULL OUTER JOIN cr ON ct.b = cr.b
  CROSS JOIN tt CROSS JOIN tr
), tf AS (
  SELECT doc_id, b, count(*) AS tf FROM feat GROUP BY doc_id, b
), s AS (
  SELECT tf.doc_id, sum(tf.tf) AS nf, sum(tf.tf * ratio.lr) AS lw
  FROM tf JOIN ratio USING (b) GROUP BY tf.doc_id
)
"""

_SQL_DSIR_WEIGHTS = f"""
WITH {_DSIR_CORE}
SELECT d.doc_id,
       CAST(coalesce(s.nf, 0) AS BIGINT) AS n_features,
       floor(s.lw * 1e6) / 1e6 AS log_weight
FROM documents d LEFT JOIN s USING (doc_id)
"""

_SQL_DSIR_SELECT = f"""
WITH {_DSIR_CORE},
w AS (
  SELECT d.doc_id,
         CAST(coalesce(s.nf, 0) AS BIGINT) AS n_features,
         floor(s.lw * 1e6) / 1e6 AS log_weight
  FROM documents d JOIN s USING (doc_id)
), g AS (
  SELECT *,
         floor((log_weight + (
           -ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 1) / 4294967297.0e0))
         )) * 1e6) / 1e6 AS gumbel_key
  FROM w
)
SELECT doc_id, n_features, log_weight, gumbel_key
FROM g ORDER BY gumbel_key DESC, doc_id ASC LIMIT 100
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift per event type
    (operators/compare.py ks_drift): even-id events vs odd-id events
    — a same-distribution split, so D should be small, but the
    VALUE is certified exactly. Per-(group, value) tie collapse
    before the running CDFs makes both engines walk identical step
    functions; 6dp floors."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_id") % 2 == 0)
    right = ev.where(F.col("event_id") % 2 == 1)
    out = get_operator("ks_drift")(
        value_col="value", group_cols=["event_type"]
    ).apply({"left": left, "right": right})["out"]
    return out.select("event_type", "n_left", "n_right", "ks_stat")


_SQL_KS_DRIFT = """
WITH u AS (
  SELECT event_type, value AS v,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS s1,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS s2
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT event_type, v, sum(s1) AS c1, sum(s2) AS c2
  FROM u GROUP BY event_type, v
), t AS (
  SELECT event_type, sum(c1) AS n1, sum(c2) AS n2
  FROM c GROUP BY event_type
), r AS (
  SELECT c.event_type, t.n1, t.n2,
         sum(c1) OVER w / t.n1 - sum(c2) OVER w / t.n2 AS d
  FROM c JOIN t USING (event_type)
  WINDOW w AS (PARTITION BY c.event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_left,
       CAST(n2 AS BIGINT) AS n_right,
       floor(max(abs(d)) * 1e6) / 1e6 AS ks_stat
FROM r GROUP BY event_type, n1, n2
"""


def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between sources
    (operators/text_analysis.py corpus_divergence): the drift metric
    next to corpus_overlap's Jaccard. Exclusive-mass identity — one
    shared-vocabulary inner join, ln2 closure for one-sided tokens —
    replayed term-for-term in the oracle; 6dp floors. Restricted to
    four sources so the certified pair spine stays readable."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    out = get_operator("corpus_divergence")().apply({"in": docs})["out"]
    return out.orderBy("group_a", "group_b")


_SQL_CORPUS_DIVERGENCE = f"""
WITH d AS (
  SELECT source, {_TOKS} AS toks FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src3')
), cnt AS (
  SELECT source AS g, w, count(*) AS c
  FROM (SELECT source, unnest(toks) AS w FROM d) GROUP BY 1, 2
), tot AS (
  SELECT g, sum(c) AS n FROM cnt GROUP BY g
), shared AS (
  SELECT a.g AS ga, b.g AS gb,
         sum((a.c / ta.n) * ln(2.0e0 * (a.c / ta.n)
             / (a.c / ta.n + b.c / tb.n))) AS ka,
         sum((b.c / tb.n) * ln(2.0e0 * (b.c / tb.n)
             / (a.c / ta.n + b.c / tb.n))) AS kb,
         sum(a.c / ta.n) AS sa,
         sum(b.c / tb.n) AS sb,
         count(*) AS sh
  FROM cnt a JOIN cnt b ON a.w = b.w AND a.g < b.g
  JOIN tot ta ON ta.g = a.g
  JOIN tot tb ON tb.g = b.g
  GROUP BY 1, 2
), spine AS (
  SELECT ta.g AS ga, tb.g AS gb FROM tot ta CROSS JOIN tot tb
  WHERE ta.g < tb.g
)
SELECT spine.ga AS group_a, spine.gb AS group_b,
       floor((0.5e0 * (coalesce(ka, 0.0e0)
                       + (1.0e0 - coalesce(sa, 0.0e0)) * ln(2.0e0))
            + 0.5e0 * (coalesce(kb, 0.0e0)
                       + (1.0e0 - coalesce(sb, 0.0e0)) * ln(2.0e0)))
             * 1e6) / 1e6 AS js_divergence,
       CAST(coalesce(sh, 0) AS BIGINT) AS shared_tokens
FROM spine LEFT JOIN shared ON shared.ga = spine.ga AND shared.gb = spine.gb
ORDER BY group_a, group_b
"""


def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (operators/asof.py
    temporal_join): a versioned customer dimension derived from the
    even-keyed orders (each order starts a new version carrying its
    totalprice; valid_to = next version's start, open version NULL)
    joined to the odd-keyed orders as facts at their order date —
    each fact picks the version valid THEN. One keyed equi-join with
    the interval residual; left rows with no valid version
    NULL-pad."""
    from pyspark.sql import Window as W

    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    dim = (
        orders.where(F.col("o_orderkey") % 2 == 0)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("valid_from"),
            F.col("o_totalprice").alias("ver_price"),
            F.lead("o_orderdate").over(
                W.partitionBy(F.col("o_custkey")).orderBy(
                    "o_orderdate", "o_orderkey"
                )
            ).alias("valid_to"),
        )
    )
    facts = orders.where(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("fact_key"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
    )
    out = get_operator("temporal_join")(
        on=["custkey"], ts_col="ts", how="left"
    ).apply({"facts": facts, "dim": dim})["out"]
    return out.select(
        "fact_key", "custkey", "ts", "valid_from", "ver_price"
    )


_SQL_TEMPORAL_JOIN = """
WITH dim AS (
  SELECT o_custkey AS custkey, o_orderdate AS valid_from,
         o_totalprice AS ver_price,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM orders WHERE o_orderkey % 2 = 0
), facts AS (
  SELECT o_orderkey AS fact_key, o_custkey AS custkey,
         o_orderdate AS ts
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT f.fact_key, f.custkey, f.ts, d.valid_from, d.ver_price
FROM facts f LEFT JOIN dim d
  ON f.custkey = d.custkey
 AND d.valid_from <= f.ts
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


def q_entropy_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy quality signals (operators/text_analysis.py
    entropy_metrics): char-unigram and whitespace-token entropy per
    document with distinct counts. Both engines compute
    H = ln(n) - Σ c·ln(c)/n in that exact arrangement (one
    division); 6dp floors."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("entropy_metrics")().apply({"in": docs})["out"]
    return out.select(
        "doc_id", "distinct_chars", "char_entropy",
        "distinct_tokens", "token_entropy",
    )


_SQL_ENTROPY_METRICS = f"""
WITH t AS (
  SELECT doc_id, trim(lower(text)) AS tt FROM documents
), ch AS (
  SELECT doc_id, s, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(tt, '')) AS s
        FROM t WHERE length(tt) > 0)
  GROUP BY doc_id, s
), hc AS (
  SELECT doc_id, count(*) AS dc,
         ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
  FROM ch GROUP BY doc_id
), tk AS (
  SELECT doc_id, s, count(*) AS c
  FROM (SELECT doc_id,
               unnest(CASE WHEN length(trim(tt)) = 0
                           THEN CAST([] AS VARCHAR[])
                           ELSE regexp_split_to_array(trim(tt), '\\s+')
                      END) AS s
        FROM t)
  GROUP BY doc_id, s
), ht AS (
  SELECT doc_id, count(*) AS dt,
         ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
  FROM tk GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(hc.dc, 0) AS BIGINT) AS distinct_chars,
       floor(hc.h * 1e6) / 1e6 AS char_entropy,
       CAST(coalesce(ht.dt, 0) AS BIGINT) AS distinct_tokens,
       floor(ht.h * 1e6) / 1e6 AS token_entropy
FROM documents d
LEFT JOIN hc USING (doc_id) LEFT JOIN ht USING (doc_id)
"""


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained BPE tokenizer (operators/bpe.py, Sennrich et al.
    2016): 100 merges learned from the corpus's bounded word-
    frequency table (deterministic tie-breaks), applied via one
    Arrow-batched mapInPandas with a per-batch word cache. ROWS-ONLY
    by contract: merge training is an iterative fixpoint no SQL
    engine reproduces — the value-level certification is the
    independent pure-Python train+encode differential in
    tests/test_bpe.py; training and encoding are deterministic, so
    the driver's rows/schema check is stable."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("bpe_tokenize")(num_merges=100).apply({"in": docs})[
        "out"
    ]
    return out.select("doc_id", "n_bpe_tokens")


# Pinned merge table for the FULL-VALUE certification of the
# distributed BPE encode path (bpe_tokenize's training fixpoint stays
# rows-only by contract; ENCODING with a fixed merge list is
# deterministic and finite, so it gets a real oracle). The list is a
# genuine bpe_train_merges output (sf0.001 documents, 16 merges) —
# that matters for the oracle's correctness: in a trained list every
# pair involving a created symbol ranks AFTER the merge that created
# it, so greedy lowest-rank-first encoding (the engine) equals
# sequential rank-order replace-to-fixpoint (the recursive-CTE
# oracle). One constant feeds BOTH sides.
_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "▁"), ("n", "▁"), ("o", "r"), ("t", "▁"),
    ("er", "▁"), ("o", "w"), ("ow", "▁"), ("l", "u"), ("i", "n"),
    ("y", "▁"), ("a", "r"), ("p", "ar"), ("g", "▁"), ("a", "s"),
    ("h", "▁"),
]


def q_bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODE with the pinned merge table
    (operators/bpe.py bpe_encode): one Arrow-batched mapInPandas,
    greedy lowest-rank merges, per-batch word cache — certified
    full-value against a DuckDB recursive-CTE re-implementation of
    rank-order merge application over the same pinned merges."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("bpe_tokenize")(
        merges=_BPE_FIXED_MERGES, emit_tokens=True
    ).apply({"in": docs})["out"]
    return out.select("doc_id", "n_bpe_tokens", "bpe_tokens")


def _sql_bpe_encode_fixed() -> str:
    """Recursive-CTE oracle: each distinct word becomes a chr(31)-
    sentineled symbol string ('␟h␟i␟▁␟'); every recursion step
    applies ONE replace-all pass of the lowest-ranked merge present
    (an unrolled CASE over the pinned table — no aggregates in the
    recursive term); terminal rows are those no pattern touches.
    Replace-to-fixpoint in rank order equals the engine's greedy
    lowest-rank encode for a TRAINED merge list (see
    _BPE_FIXED_MERGES note)."""
    US = "chr(31)"

    def pat(a: str, b: str) -> str:
        return f"{US} || '{a}' || {US} || '{b}' || {US}"

    def rep(a: str, b: str) -> str:
        return f"{US} || '{a}{b}' || {US}"

    case_arms = "\n    ".join(
        f"WHEN contains(seq, {pat(a, b)}) "
        f"THEN replace(seq, {pat(a, b)}, {rep(a, b)})"
        for a, b in _BPE_FIXED_MERGES
    )
    any_pat = " OR ".join(
        f"contains(seq, {pat(a, b)})" for a, b in _BPE_FIXED_MERGES
    )
    toks_lower = (
        "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END"
    )
    return f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, {toks_lower} AS toks FROM documents
), words AS (
  SELECT DISTINCT w
  FROM (SELECT unnest(toks) AS w FROM tok)
  WHERE w != ''
), enc AS (
  SELECT w,
         {US} || array_to_string([w[i] for i in range(1, len(w) + 1)],
                                 {US})
              || {US} || '▁' || {US} AS seq
  FROM words
  UNION ALL
  SELECT w, CASE
    {case_arms}
  END AS seq
  FROM enc
  WHERE {any_pat}
), final AS (
  SELECT w, seq FROM enc WHERE NOT ({any_pat})
), wenc AS (
  SELECT w,
         len(string_split(seq, {US})) - 2 AS n_sym,
         array_to_string(
           list_filter(string_split(seq, {US}), x -> x != ''), ' '
         ) AS enc_str
  FROM final
), pos AS (
  SELECT doc_id, unnest(toks) AS w,
         generate_subscripts(toks, 1) AS p
  FROM tok
), agg AS (
  SELECT doc_id, sum(n_sym) AS n,
         string_agg(enc_str, ' ' ORDER BY p) AS toks_str
  FROM pos JOIN wenc USING (w)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_bpe_tokens,
       coalesce(a.toks_str, '') AS bpe_tokens
FROM tok t LEFT JOIN agg a USING (doc_id)
"""


_SQL_BPE_ENCODE_FIXED = _sql_bpe_encode_fixed()


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial NB quality classifier (operators/selection.py
    nb_quality_score, the GPT-3 Appendix-A filter shape): positive =
    src0/src1 slice, negative = src18/src19 slice, every document
    scored by smoothed class-conditional hashed-n-gram log odds +
    prior, squashed to (0,1). Same md5-bucket/e0-literal discipline
    as dsir; 6dp floors."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    pos = docs.where(F.col("source").isin("src0", "src1"))
    neg = docs.where(F.col("source").isin("src18", "src19"))
    out = get_operator("quality_classifier")(num_buckets=8192).apply(
        {"in": docs, "positive": pos, "negative": neg}
    )["out"]
    return out.select("doc_id", "n_features", "log_odds", "score")


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3 Pareto soft gate (operators/selection.py
    nb_quality_gate): keep iff deterministic pareto_draw > 1 - score
    — high scorers nearly always survive, low scorers keep a
    quality-proportional chance (tail diversity). The draw derives
    from the md5 hash-bucket of the id (inverse-CDF Pareto), so the
    oracle replays it exactly."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    pos = docs.where(F.col("source").isin("src0", "src1"))
    neg = docs.where(F.col("source").isin("src18", "src19"))
    out = get_operator("quality_gate")(num_buckets=8192).apply(
        {"in": docs, "positive": pos, "negative": neg}
    )["out"]
    return out.select("doc_id", "score")


_NBQ_CORE = f"""
tok AS (
  SELECT doc_id, source, {_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 8192 AS b
  FROM (SELECT doc_id, source, unnest({_DSIR_FEATS}) AS f FROM tok)
), cp AS (
  SELECT b, count(*) AS cP FROM feat
  WHERE source IN ('src0', 'src1') GROUP BY b
), cn AS (
  SELECT b, count(*) AS cN FROM feat
  WHERE source IN ('src18', 'src19') GROUP BY b
), tp AS (SELECT coalesce(sum(cP), 0) AS t FROM cp),
tn AS (SELECT coalesce(sum(cN), 0) AS t FROM cn),
np AS (SELECT count(*) AS n FROM documents WHERE source IN ('src0', 'src1')),
nn AS (SELECT count(*) AS n FROM documents
       WHERE source IN ('src18', 'src19')),
ratio AS (
  SELECT coalesce(cp.b, cn.b) AS b,
         ln((coalesce(cP, 0) + 1.0e0) / (tp.t + 1.0e0 * 8192))
         - ln((coalesce(cN, 0) + 1.0e0) / (tn.t + 1.0e0 * 8192)) AS lr
  FROM cp FULL OUTER JOIN cn ON cp.b = cn.b
  CROSS JOIN tp CROSS JOIN tn
), tf AS (
  SELECT doc_id, b, count(*) AS tf FROM feat GROUP BY doc_id, b
), s AS (
  -- LEFT join + smoothed default: a doc bucket seen by NEITHER
  -- class still contributes its nonzero smoothed log ratio
  SELECT tf.doc_id, sum(tf.tf) AS nf,
         sum(tf.tf * coalesce(ratio.lr,
             ln(1.0e0 / (tp.t + 1.0e0 * 8192))
             - ln(1.0e0 / (tn.t + 1.0e0 * 8192)))) AS sr
  FROM tf LEFT JOIN ratio USING (b) CROSS JOIN tp CROSS JOIN tn
  GROUP BY tf.doc_id
), lo AS (
  SELECT d.doc_id,
         CAST(coalesce(s.nf, 0) AS BIGINT) AS n_features,
         s.sr + ln(CAST(np.n AS DOUBLE) / nn.n) AS raw_lo
  FROM documents d LEFT JOIN s USING (doc_id) CROSS JOIN np CROSS JOIN nn
)
"""

_SQL_QUALITY_CLASSIFIER = f"""
WITH {_NBQ_CORE}
SELECT doc_id, n_features,
       floor(raw_lo * 1e6) / 1e6 AS log_odds,
       floor((1.0e0 / (1.0e0 + exp(-raw_lo))) * 1e6) / 1e6 AS score
FROM lo
"""

_SQL_QUALITY_GATE = f"""
WITH {_NBQ_CORE}
SELECT doc_id,
       floor((1.0e0 / (1.0e0 + exp(-raw_lo))) * 1e6) / 1e6 AS score
FROM lo
WHERE raw_lo IS NOT NULL
  AND pow(1.0e0 - (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 1) / 4294967297.0e0, -1.0e0 / 9.0e0) - 1.0e0
      > 1.0e0 - floor((1.0e0 / (1.0e0 + exp(-raw_lo))) * 1e6) / 1e6
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document to a 3-term probe
    (operators/text_analysis.py bm25_score, Lucene idf variant) —
    the retrieval primitive for decontamination triage and targeted
    corpus slicing. Row-preserving mode: n_matched + floor-quantized
    score for all docs, 0.0 when nothing matches. N/avgdl ride as a
    broadcast one-row aggregate; the exploded relation holds only
    query-term occurrences."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("bm25")(query=["hash", "join", "vector"]).apply(
        {"in": docs}
    )["out"]


_SQL_BM25 = f"""
WITH d AS (
  SELECT doc_id,
         greatest(coalesce(len({_TOKS}), 0), 0) AS dl,
         {_TOKS} AS toks
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d
), tf AS (
  SELECT doc_id, t AS term, count(*) AS tf, max(dl) AS dl
  FROM (
    SELECT doc_id, dl,
           unnest(list_filter(coalesce(toks, CAST([] AS VARCHAR[])),
                              x -> list_contains(['hash','join','vector'], x))) AS t
    FROM d
  ) u
  GROUP BY doc_id, t
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, count(*) AS n_matched,
         sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * ((tf.tf * (1.2e0 + 1))
                / (tf.tf + 1.2e0 * (1 - 0.75e0 + 0.75e0 * tf.dl / stats.avgdl)))) AS s
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT d.doc_id,
       coalesce(scored.n_matched, 0) AS n_matched,
       floor(coalesce(scored.s, 0.0) * 1e6) / 1e6 AS score
FROM d LEFT JOIN scored ON d.doc_id = scored.doc_id
"""


def q_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series (operators/timeseries.py interpolate):
    per-user hourly max(value) buckets densified onto each user's
    observed span and interior gaps LINEARLY interpolated between the
    surrounding observations; is_filled marks synthesized rows.
    Observed values pass through bit-unchanged (max is order-
    independent); interpolated values are a single arithmetic
    expression over exact hour epochs, bit-identical in DuckDB, then
    floor-quantized at 6dp."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    # ts IS NOT NULL on BOTH sides: the operator passes NULL-time
    # observations through as their own rows (pytest-pinned), but the
    # oracle's spine LEFT JOIN would drop them — certify the aligned
    # contract, pin the divergent path in tests
    ev = _t(spark, sf_dir, "events").where(
        (F.col("user_id") < 20) & F.col("ts").isNotNull()
    )
    bucketed = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.max("value").alias("v"))
    return get_operator("interpolate")(
        key_cols=["user_id"],
        time_col="bucket",
        value_col="v",
        step="INTERVAL 1 HOUR",
        method="linear",
    ).apply({"in": bucketed})["out"]


_SQL_INTERPOLATE = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, max(value) AS v
  FROM events WHERE user_id < 20 AND ts IS NOT NULL GROUP BY 1, 2
), sp AS (
  SELECT user_id,
         unnest(generate_series(min(bucket), max(bucket),
                                INTERVAL 1 HOUR)) AS bucket
  FROM b GROUP BY user_id
), d AS (
  SELECT sp.user_id, sp.bucket, b.v
  FROM sp LEFT JOIN b ON sp.user_id = b.user_id AND sp.bucket = b.bucket
), wv AS (
  SELECT user_id, bucket, v,
    last_value(v IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(v IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY bucket
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM d
)
SELECT user_id, bucket,
  coalesce(v,
    CASE WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
      floor((pv + (nv - pv) * ((epoch(bucket) - epoch(pt))
                               / (epoch(nt) - epoch(pt)))) * 1e6) / 1e6
    END) AS v,
  (v IS NULL) AS is_filled
FROM wv
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (operators/graph.py pagerank) over the
    bipartite part-supplier graph mined from lineitem (parts at even
    node ids, suppliers at odd) — the web-graph quality signal crawl
    pipelines attach to URLs. Undirected + a fixed iteration count: the
    dangling term is exactly zero and the result is a pure function
    of the graph (fixed 5 rounds here), so the DuckDB oracle is the SAME power iteration
    UNROLLED into 5 generated CTEs and the row hash-matches — an
    iterative distributed algorithm certified at full value level,
    not rows-only."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 0)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return get_operator("pagerank")(
        src="src", dst="dst", undirected=True, iterations=3
    ).apply({"in": edges})["out"]


def _sql_pagerank(n_iter: int = 10, d: str = "0.85e0") -> str:
    """Unrolled power-iteration oracle: same node encoding, same
    float expression association as the operator (base + d*(c+0.0),
    x+0.0 == x bitwise), full precision between rounds, final floor
    quantization at 9dp."""
    ctes = [
        "e AS (SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t "
        "FROM lineitem WHERE l_orderkey % 4 = 0)",
        "ed AS MATERIALIZED (SELECT s, t FROM e UNION SELECT t AS s, s AS t FROM e)",
        "deg AS MATERIALIZED (SELECT s, count(*) AS dd FROM ed GROUP BY s)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT s AS node, 1.0/nn.n AS r FROM deg CROSS JOIN nn)",
    ]
    for i in range(1, n_iter + 1):
        p = f"r{i-1}"
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT ed.t AS node, sum({p}.r / deg.dd) AS c "
            f"FROM ed JOIN {p} ON ed.s = {p}.node "
            f"JOIN deg ON deg.s = ed.s GROUP BY ed.t)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT {p}.node, "
            f"(1-{d})/nn.n + {d}*coalesce(c{i}.c, 0.0) AS r "
            f"FROM {p} CROSS JOIN nn "
            f"LEFT JOIN c{i} ON c{i}.node = {p}.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, floor(r*1e9)/1e9 AS pagerank FROM r{n_iter}"
    )


# 5 rounds in the certification row: the plan depth (and the AQE
# replanning cost that dominates this query) scales with rounds while
# the cross-engine value contract is identical at any fixed count;
# the operator default stays at the classical 10
_SQL_PAGERANK = _sql_pagerank(3)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py pq_topk,
    Jégou et al. 2011, registry method='pq'): per-subspace Lloyd
    codebooks on an id-sorted bounded sample, corpus encoded to m
    bytes/vector, ADC lookup-table scoring streamed per Arrow batch,
    exact cosine re-rank of refine_factor·k candidates. ROWS-ONLY by
    contract: the codebooks are a data-dependent k-means no SQL
    engine reproduces — the value-level certification is the recall
    floor + determinism + self-retrieval pytest
    (test_dedup_similarity_text.py::test_pq_topk_*); deterministic
    across runs, so the driver's rows/schema check is stable."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return get_operator("similarity_search")(
        method="pq", k=5, m=8, k_codes=64, kmeans_iters=2, refine_factor=6
    ).apply({"corpus": emb, "queries": queries})["out"]


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph (operators/similarity.py knn_graph,
    method=brute_force): every embedding's 5 nearest OTHER vectors
    as (src, dst, cosine, rank) edges — the construction step before
    semantic community detection. Self-pairs excluded by id after a
    k+1 search and ranks recomputed (a duplicate vector legitimately
    outranks self). Same ranking contract as the ann family."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    out = get_operator("knn_graph")(k=5).apply({"in": emb})["out"]
    # cosine stays at the kernel's 6dp — no 4dp re-round: double
    # rounding manufactures exact .00005 ties where Java and C round
    # semantics diverge (the r7 random_projection class)
    return out.select("src", "dst", "cosine", "rank")


def _sql_knn_graph(dim: int = 64, k: int = 5) -> str:
    """Fold-exact oracle: DuckDB recomputes the cosine with EXACTLY
    Spark's arithmetic — norm = sqrt of a left-fold of squares in
    index order, unit components x/norm, dot = left-fold of unit
    products (functions/vectors.py dot/norm/select_unit) — so both
    engines rank bit-identical doubles. list_cosine_similarity
    accumulates in a different order: 1-ulp off, 3/2500 rank flips
    at sf0.001 (measured before this rewrite)."""
    sq = "0.0"
    for i in range(1, dim + 1):
        sq = f"({sq} + e[{i}] * e[{i}])"
    dot = "0.0"
    for i in range(1, dim + 1):
        dot = f"({dot} + (a.e[{i}] / a.nrm) * (b.e[{i}] / b.nrm))"
    return f"""
WITH u AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, sqrt({sq}) AS nrm
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round({dot}, 6) AS cs6
  FROM u a JOIN u b ON a.vec_id <> b.vec_id
)
SELECT src, dst, cs6 AS cosine,
       CAST(row_number() OVER (PARTITION BY src
                               ORDER BY cs6 DESC, dst ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


_SQL_KNN_GRAPH = _sql_knn_graph()


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone connected components (operators/graph.py
    ConnectedComponentsOperator → the dedup family's certified CC
    engine) over the part-supplier bipartite graph — component = min
    node id, all-integer, bit-exact vs the DuckDB recursive-CTE
    transitive closure."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 16 == 5)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return get_operator("connected_components")(src="src", dst="dst").apply(
        {"in": edges}
    )["out"]


_SQL_GRAPH_COMPONENTS = """
WITH RECURSIVE pe AS (
  SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t
  FROM lineitem WHERE l_orderkey % 16 = 5
), edges AS (
  SELECT s, t FROM pe UNION SELECT t, s FROM pe
), reach(src, dst) AS (
  SELECT s, s FROM edges
  UNION
  SELECT r.src, e.t FROM reach r JOIN edges e ON r.dst = e.s
)
SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
"""


def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-overlap link prediction (operators/graph.py
    link_predict, Liben-Nowell & Kleinberg 2007) on the part
    co-purchase graph, resource-allocation index (Zhou-Lü-Zhang
    2009) — the certified mode: per-hub weight is the INTEGRAL
    division 10^12 div deg(z), so the score sum is bit-exact across
    engines regardless of reduction order. max_degree=25 exercises
    the hub cap (the documented exclusion contract, mirrored in the
    oracle); existing edges are anti-joined away (the prediction
    use-case); min_common=2 bounds the pair table."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 2)
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, on="l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )
    return get_operator("link_predict")(
        src="src", dst="dst", method="resource_allocation",
        max_degree=25, min_common=2,
    ).apply({"in": edges})["out"]


_SQL_LINK_PREDICT = """
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_orderkey % 4 = 2 AND a.l_partkey < b.l_partkey
), sym AS (
  SELECT s, t FROM e0 UNION SELECT t, s FROM e0
), deg AS (
  SELECT s, count(*) AS d FROM sym GROUP BY s
), nbr AS (
  SELECT sym.s AS z, sym.t AS u, 1000000000000 // deg.d AS w
  FROM sym JOIN deg USING (s) WHERE deg.d <= 25
), g AS (
  SELECT x.u AS a, y.u AS b, count(*) AS cn, sum(x.w) AS sw
  FROM nbr x JOIN nbr y ON x.z = y.z AND x.u < y.u
  GROUP BY x.u, y.u
  HAVING count(*) >= 2
)
SELECT g.a AS src, g.b AS dst, CAST(g.cn AS BIGINT) AS common_neighbors,
       floor(CAST(g.sw AS DOUBLE) / 1e12 * 1e9) / 1e9 AS score
FROM g
WHERE NOT EXISTS (SELECT 1 FROM sym WHERE sym.s = g.a AND sym.t = g.b)
"""


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (pagerank weight_col): the same
    part-supplier graph as q_pagerank but with edge weight = lineitem
    multiplicity, so frequently co-occurring pairs carry
    proportionally more mass (r(u)*w/W(u) splits). Same lazy-chain /
    unrolled-oracle machinery; floor-quantized at 9dp."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 0)
    edges = li.groupBy(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).agg(F.count(F.lit(1)).cast("double").alias("w"))
    return get_operator("pagerank")(
        src="src", dst="dst", undirected=True, iterations=3, weight_col="w"
    ).apply({"in": edges})["out"]


def _sql_pagerank_weighted(n_iter: int = 5, d: str = "0.85e0") -> str:
    """Weighted unrolled oracle: W(u)=sum of outgoing weights,
    contribution sum(r * w / W) — left association matches the Spark
    column expression; e0 double literals throughout."""
    ctes = [
        "e AS (SELECT l_partkey*2 AS s, l_suppkey*2+1 AS t, "
        "CAST(count(*) AS DOUBLE) AS w FROM lineitem "
        "WHERE l_orderkey % 4 = 0 GROUP BY 1, 2)",
        "ed AS MATERIALIZED (SELECT s, t, sum(w) AS w FROM ("
        "SELECT s, t, w FROM e UNION ALL SELECT t AS s, s AS t, w FROM e"
        ") GROUP BY s, t)",
        "deg AS MATERIALIZED (SELECT s, sum(w) AS dd FROM ed GROUP BY s)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT s AS node, 1.0/nn.n AS r FROM deg CROSS JOIN nn)",
    ]
    for i in range(1, n_iter + 1):
        p = f"r{i-1}"
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT ed.t AS node, "
            f"sum({p}.r * ed.w / deg.dd) AS c "
            f"FROM ed JOIN {p} ON ed.s = {p}.node "
            f"JOIN deg ON deg.s = ed.s GROUP BY ed.t)"
        )
        ctes.append(
            f"r{i} AS (SELECT {p}.node, "
            f"(1-{d})/nn.n + {d}*coalesce(c{i}.c, 0.0) AS r "
            f"FROM {p} CROSS JOIN nn "
            f"LEFT JOIN c{i} ON c{i}.node = {p}.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, floor(r*1e9)/1e9 AS pagerank FROM r{n_iter}"
    )


_SQL_PAGERANK_WEIGHTED = _sql_pagerank_weighted(3)


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (operators/graph.py personalized_pagerank): restart
    mass concentrated on a trusted seed set (suppliers with key < 20)
    so rank measures link proximity to the whitelist — the
    seed-expansion curation primitive. Same lazy-chain/unrolled-CTE
    machinery as pagerank; the base term is (1-d)*p(v) with p = 1/|S|
    on seeds, 0 elsewhere (e0 double literals throughout)."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 2)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    seeds = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 20)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    return get_operator("personalized_pagerank")(
        src="src", dst="dst", iterations=3
    ).apply({"in": edges, "seeds": seeds})["out"]


def _sql_personalized_pagerank(n_iter: int = 5, d: str = "0.85e0") -> str:
    """Unrolled PPR oracle: p-vector CTE (1.0/ns on present seeds,
    0.0e0 elsewhere), then r' = (1-d)*p + d*c per round — the same
    double literals and association as the Spark expression."""
    ctes = [
        "e AS (SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t "
        "FROM lineitem WHERE l_orderkey % 4 = 2)",
        "ed AS MATERIALIZED (SELECT s, t FROM e "
        "UNION SELECT t AS s, s AS t FROM e)",
        "deg AS MATERIALIZED (SELECT s, count(*) AS dd FROM ed GROUP BY s)",
        "sd AS (SELECT DISTINCT s_suppkey*2+1 AS node FROM supplier "
        "WHERE s_suppkey < 20)",
        "present AS (SELECT sd.node FROM sd JOIN deg ON deg.s = sd.node)",
        "ns AS (SELECT count(*) AS n FROM present)",
        "p0 AS MATERIALIZED (SELECT deg.s AS node, "
        "CASE WHEN present.node IS NOT NULL THEN 1.0/ns.n ELSE 0.0e0 END AS pv "
        "FROM deg CROSS JOIN ns LEFT JOIN present ON present.node = deg.s)",
        "r0 AS (SELECT node, pv AS r FROM p0)",
    ]
    for i in range(1, n_iter + 1):
        p = f"r{i-1}"
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT ed.t AS node, sum({p}.r / deg.dd) AS c "
            f"FROM ed JOIN {p} ON ed.s = {p}.node "
            f"JOIN deg ON deg.s = ed.s GROUP BY ed.t)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT p0.node, "
            f"(1-{d})*p0.pv + {d}*c{i}.c AS r "
            f"FROM p0 JOIN c{i} ON c{i}.node = p0.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, floor(r*1e9)/1e9 AS pagerank FROM r{n_iter}"
    )


_SQL_PERSONALIZED_PAGERANK = _sql_personalized_pagerank(3)


def q_ppr_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank PROPER (operators/graph.py personalized_pagerank,
    directed=True): trust flows only ALONG link direction and
    dangling mass teleports back to the SEEDS (restart-vector
    redistribution, Gyongyi et al. 2004 §4.1). Two-layer directed
    graph from lineitem — odd line numbers link part→supplier, even
    link supplier→part — so flow is asymmetric and one-sided nodes
    are genuine dangling sinks exercising the teleport term. Seeds:
    suppliers with key < 20. Eager checkpointed loop engine-side;
    the oracle unrolls the same 3 rounds with an explicit per-round
    dangling-mass scalar CTE. 3 rounds / %8 slice in the
    certification row: the checkpointed loop's bench price is
    rounds × materialization, and the cross-engine value contract
    is identical at any fixed count (the pagerank row's precedent);
    the operator default stays at the classical 10."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 8 == 1)
    fwd = li.where(F.col("l_linenumber") % 2 == 1).select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    back = li.where(F.col("l_linenumber") % 2 == 0).select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
    )
    seeds = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 20)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    return get_operator("personalized_pagerank")(
        src="src", dst="dst", iterations=3, directed=True
    ).apply({"in": fwd.unionByName(back), "seeds": seeds})["out"]


def _sql_ppr_directed(n_iter: int = 3, d: str = "0.85e0") -> str:
    """Unrolled directed-TrustRank oracle: out-degree on the DIRECTED
    edges, nodes = src ∪ dst, a structural dangling set, and per
    round a scalar dangling-mass CTE folded back through the restart
    vector — r' = (1-d)*p + d*(coalesce(c,0) + dm*p), the same
    double literals and association as the Spark expression."""
    ctes = [
        "e AS MATERIALIZED ("
        "SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t "
        "FROM lineitem WHERE l_orderkey % 8 = 1 AND l_linenumber % 2 = 1 "
        "UNION "
        "SELECT DISTINCT l_suppkey*2+1 AS s, l_partkey*2 AS t "
        "FROM lineitem WHERE l_orderkey % 8 = 1 AND l_linenumber % 2 = 0)",
        "nodes AS MATERIALIZED (SELECT s AS node FROM e "
        "UNION SELECT t AS node FROM e)",
        "deg AS MATERIALIZED (SELECT s, count(*) AS dd FROM e GROUP BY s)",
        "dang AS MATERIALIZED (SELECT node FROM nodes "
        "WHERE node NOT IN (SELECT s FROM deg))",
        "sd AS (SELECT DISTINCT s_suppkey*2+1 AS node FROM supplier "
        "WHERE s_suppkey < 20)",
        "present AS (SELECT sd.node FROM sd JOIN nodes USING (node))",
        "ns AS (SELECT count(*) AS n FROM present)",
        "p0 AS MATERIALIZED (SELECT nodes.node, "
        "CASE WHEN present.node IS NOT NULL THEN 1.0/ns.n ELSE 0.0e0 END "
        "AS pv FROM nodes CROSS JOIN ns "
        "LEFT JOIN present ON present.node = nodes.node)",
        "r0 AS (SELECT node, pv AS r FROM p0)",
    ]
    for i in range(1, n_iter + 1):
        p = f"r{i-1}"
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT e.t AS node, "
            f"sum({p}.r / deg.dd) AS c "
            f"FROM e JOIN {p} ON e.s = {p}.node "
            f"JOIN deg ON deg.s = e.s GROUP BY e.t)"
        )
        ctes.append(
            f"dm{i} AS (SELECT coalesce(sum({p}.r), 0.0e0) AS m "
            f"FROM {p} JOIN dang USING (node))"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT p0.node, "
            f"(1-{d})*p0.pv + {d}*(coalesce(c{i}.c, 0.0e0) "
            f"+ dm{i}.m * p0.pv) AS r "
            f"FROM p0 CROSS JOIN dm{i} "
            f"LEFT JOIN c{i} ON c{i}.node = p0.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, floor(r*1e9)/1e9 AS pagerank FROM r{n_iter}"
    )


_SQL_PPR_DIRECTED = _sql_ppr_directed()


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from a seed set (operators/graph.py
    bfs_distances): undirected BFS over the part-supplier bipartite
    graph, seeds = suppliers with key < 20, 4 hops. All-integer
    frontier relaxation — the oracle unrolls the same rounds as
    min-distance CTEs and the row set (reachable within max_hops)
    matches exactly."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 2)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    seeds = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 20)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    return get_operator("bfs_distances")(
        src="src", dst="dst", max_hops=4
    ).apply({"in": edges, "seeds": seeds})["out"]


def _sql_bfs_distances(max_hops: int = 4) -> str:
    """Unrolled BFS oracle: d0 = present seeds; each round extends
    by one hop over the symmetrized edges and keeps the MIN distance
    per node — identical to frontier relaxation because a node's
    first reach round IS its min distance."""
    ctes = [
        "e AS (SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t "
        "FROM lineitem WHERE l_orderkey % 4 = 2)",
        "ed AS MATERIALIZED (SELECT s, t FROM e "
        "UNION SELECT t AS s, s AS t FROM e)",
        "nodes AS (SELECT DISTINCT s AS node FROM ed)",
        "sd AS (SELECT DISTINCT s_suppkey*2+1 AS node FROM supplier "
        "WHERE s_suppkey < 20)",
        "d0 AS MATERIALIZED (SELECT sd.node, 0 AS d "
        "FROM sd JOIN nodes USING (node))",
    ]
    for i in range(1, max_hops + 1):
        p = f"d{i-1}"
        ctes.append(
            f"d{i} AS MATERIALIZED ("
            f"SELECT node, min(d) AS d FROM ("
            f"SELECT node, d FROM {p} "
            f"UNION ALL "
            f"SELECT ed.t AS node, {p}.d + 1 AS d "
            f"FROM {p} JOIN ed ON ed.s = {p}.node) GROUP BY node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(d AS BIGINT) AS distance FROM d{max_hops}"
    )


_SQL_BFS_DISTANCES = _sql_bfs_distances()


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py triangle_count,
    compact-forward (degree,id) orientation) on the part co-purchase
    graph (parts sharing an order). The oracle enumerates triangles
    under plain id order — orientation by ANY total order yields the
    SAME triangle set, so degree-ordered Spark and id-ordered DuckDB
    must agree exactly; all-integer, bit-exact."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 3)
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, on="l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )
    return get_operator("triangle_count")(src="src", dst="dst").apply(
        {"in": edges}
    )["out"]


_SQL_TRIANGLE_COUNT = """
WITH pe AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_orderkey % 4 = 3 AND a.l_partkey < b.l_partkey
), n AS (
  SELECT s AS node FROM pe UNION SELECT t FROM pe
), tri AS (
  SELECT x.s AS a, x.t AS b, y.t AS c
  FROM pe x
  JOIN pe y ON x.s = y.s AND x.t < y.t
  JOIN pe z ON z.s = x.t AND z.t = y.t
), m AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), c AS (
  SELECT node, count(*) AS triangles FROM m GROUP BY node
)
SELECT n.node, coalesce(c.triangles, 0) AS triangles
FROM n LEFT JOIN c USING (node)
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators/graph.py label_propagation,
    Raghavan et al. 2007) on the part-supplier bipartite graph —
    synchronous neighbor-majority voting, ties to the smallest
    label, fixed 3 rounds. All-integer arithmetic, so the unrolled
    3-CTE DuckDB oracle hash-matches exactly (no quantization at
    all — the second iterative algorithm certified at value level,
    this one bit-exact by construction)."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 1)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return get_operator("label_propagation")(
        src="src", dst="dst", iterations=3
    ).apply({"in": edges})["out"]


def _sql_label_propagation(n_iter: int = 5) -> str:
    """Unrolled synchronous LPA oracle: neighbor-vote counts, then
    struct-min over (-count, label) — the same argmax-with-smallest-
    label tiebreak the Spark expression computes. Integer-exact."""
    ctes = [
        "e AS (SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t "
        "FROM lineitem WHERE l_orderkey % 4 = 1)",
        "ed AS MATERIALIZED (SELECT s, t FROM e "
        "UNION SELECT t AS s, s AS t FROM e)",
        "l0 AS (SELECT DISTINCT s AS node, s AS label FROM ed)",
    ]
    for i in range(1, n_iter + 1):
        p = f"l{i-1}"
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT ed.t AS node, {p}.label, "
            f"count(*) AS n FROM ed JOIN {p} ON ed.s = {p}.node "
            f"GROUP BY ed.t, {p}.label)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT node, "
            f"(min(struct_pack(c := -n, l := label))).l AS label "
            f"FROM c{i} GROUP BY node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{n_iter}"
    )


def _sql_label_propagation_ctes(n_iter: int) -> str:
    """The LPA oracle's CTE chain without the final SELECT — reused
    by the modularity oracle, which scores l{n_iter} as the
    community assignment."""
    full = _sql_label_propagation(n_iter)
    return full[len("WITH ") : full.rindex("\nSELECT ")]


# 3 rounds in the certification row (plan depth = cost; the value
# contract is identical at any fixed count); operator default stays 5
_SQL_LABEL_PROPAGATION = _sql_label_propagation(3)


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain modularity ascent (operators/graph.py louvain,
    Blondel et al. 2008 level-1 local moves, parity-alternating
    half-sweeps) on the same part-supplier graph the modularity
    meter certifies. Gains compare in exact integer arithmetic
    (2m·k_in − k_i·Σtot with the own-community −k_i correction), so
    the unrolled 2-half-round CTE oracle is bit-exact — the third
    iterative graph algorithm certified at full value. The
    Q(louvain) >= Q(lpa) refinement inequality is pytest-enforced
    (tests/test_graph.py)."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 16 == 3)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return get_operator("louvain")(
        src="src", dst="dst", iterations=2
    ).apply({"in": edges})["out"]


def _sql_louvain(n_iter: int = 2) -> str:
    """Unrolled parity-alternating Louvain oracle: per half-round the
    movable-parity nodes score every neighboring community (plus an
    always-present stay row at k=0 — dominated whenever a real
    own-community row exists, exactly as in the operator) with the
    integer gain 2m·k − d·(Σtot − [own]·d), and take the top gain,
    ties to the smallest community id. Node ids here are positive,
    so plain % matches Spark's pmod."""
    ctes = [
        "pe AS (SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t "
        "FROM lineitem WHERE l_orderkey % 16 = 3)",
        "ed AS MATERIALIZED (SELECT s, t FROM ("
        "SELECT s, t FROM pe UNION SELECT t AS s, s AS t FROM pe"
        ") WHERE s <> t)",
        "deg AS MATERIALIZED (SELECT s AS n, count(*) AS d FROM ed GROUP BY s)",
        "mt AS (SELECT count(*) AS m FROM ed WHERE s < t)",
        "a0 AS (SELECT n, n AS c FROM deg)",
    ]
    for i in range(n_iter):
        p, a = i % 2, f"a{i}"
        ctes.append(
            f"kin{i} AS (SELECT ed.s AS n, {a}.c AS nc, count(*) AS k "
            f"FROM ed JOIN {a} ON ed.t = {a}.n WHERE ed.s % 2 = {p} "
            f"GROUP BY ed.s, {a}.c)"
        )
        ctes.append(
            f"tot{i} AS (SELECT {a}.c AS nc, sum(deg.d) AS st "
            f"FROM {a} JOIN deg ON {a}.n = deg.n GROUP BY {a}.c)"
        )
        ctes.append(
            f"cand{i} AS (SELECT n, nc, k FROM kin{i} UNION ALL "
            f"SELECT n, c AS nc, 0 AS k FROM {a} WHERE n % 2 = {p})"
        )
        ctes.append(
            f"sc{i} AS (SELECT c.n, c.nc, "
            f"2 * mt.m * c.k - deg.d * (t.st - "
            f"CASE WHEN c.nc = {a}.c THEN deg.d ELSE 0 END) AS g "
            f"FROM cand{i} c JOIN {a} ON c.n = {a}.n "
            f"JOIN deg ON c.n = deg.n JOIN tot{i} t ON c.nc = t.nc "
            f"CROSS JOIN mt)"
        )
        ctes.append(
            f"a{i + 1} AS MATERIALIZED (SELECT n, nc AS c FROM ("
            f"SELECT n, nc, row_number() OVER "
            f"(PARTITION BY n ORDER BY g DESC, nc ASC) AS rn FROM sc{i}"
            f") WHERE rn = 1 UNION ALL "
            f"SELECT n, c FROM {a} WHERE n % 2 <> {p})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT n AS node, CAST(c AS BIGINT) AS community FROM a{n_iter}"
    )


_SQL_LOUVAIN = _sql_louvain(2)


def q_louvain_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level Louvain (operators/graph.py louvain_multilevel,
    Blondel et al. 2008 BOTH phases): level-1 local moves, communities
    collapsed into super-nodes (fine-edge-count weights, degrees
    carried so self-loop mass is implicit), coarse nodes RELABELED by
    the distributed rank of their community label (labels inherit
    smallest-id ties and can collapse onto one parity class,
    starving the alternation), a WEIGHTED local-move pass one level
    up, projection back down — and the exact-integer modularity score
    guard Σ_C(2m·W_C − D_C²) picking the better level (ties to the
    finest), which restores Q-monotonicity under parity-synchronous
    coarse moves. Everything is integer arithmetic, so the unrolled
    two-level CTE oracle — rank relabel, weighted rounds, projection
    and the score CASE included — is bit-exact."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 16 == 5)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return get_operator("louvain_multilevel")(
        src="src", dst="dst", iterations=2, levels=2
    ).apply({"in": edges})["out"]


def _sql_louvain_multilevel(n_iter: int = 2) -> str:
    """Two-level unrolled Louvain oracle: the ``_sql_louvain`` rounds,
    then rank relabel (row_number over distinct community labels —
    exactly linkage._global_rank's contiguous 1-based rank on a total
    order), coarse weighted rounds (sum(w) k_in, coarse degrees =
    summed fine degrees), projection, and the exact-integer score
    CASE mirroring the engine's best-level pick (ties to level 1)."""
    ctes = [
        "pe AS (SELECT DISTINCT l_partkey*2 AS s, l_suppkey*2+1 AS t "
        "FROM lineitem WHERE l_orderkey % 16 = 5)",
        "ed AS MATERIALIZED (SELECT s, t FROM ("
        "SELECT s, t FROM pe UNION SELECT t AS s, s AS t FROM pe"
        ") WHERE s <> t)",
        "deg AS MATERIALIZED (SELECT s AS n, count(*) AS d FROM ed GROUP BY s)",
        "mt AS (SELECT count(*) AS m FROM ed WHERE s < t)",
        "a0 AS (SELECT n, n AS c FROM deg)",
    ]
    for i in range(n_iter):
        p, a = i % 2, f"a{i}"
        ctes.append(
            f"kin{i} AS (SELECT ed.s AS n, {a}.c AS nc, count(*) AS k "
            f"FROM ed JOIN {a} ON ed.t = {a}.n WHERE ed.s % 2 = {p} "
            f"GROUP BY ed.s, {a}.c)"
        )
        ctes.append(
            f"tot{i} AS (SELECT {a}.c AS nc, sum(deg.d) AS st "
            f"FROM {a} JOIN deg ON {a}.n = deg.n GROUP BY {a}.c)"
        )
        ctes.append(
            f"cand{i} AS (SELECT n, nc, k FROM kin{i} UNION ALL "
            f"SELECT n, c AS nc, 0 AS k FROM {a} WHERE n % 2 = {p})"
        )
        ctes.append(
            f"sc{i} AS (SELECT c.n, c.nc, "
            f"2 * mt.m * c.k - deg.d * (t.st - "
            f"CASE WHEN c.nc = {a}.c THEN deg.d ELSE 0 END) AS g "
            f"FROM cand{i} c JOIN {a} ON c.n = {a}.n "
            f"JOIN deg ON c.n = deg.n JOIN tot{i} t ON c.nc = t.nc "
            f"CROSS JOIN mt)"
        )
        ctes.append(
            f"a{i + 1} AS MATERIALIZED (SELECT n, nc AS c FROM ("
            f"SELECT n, nc, row_number() OVER "
            f"(PARTITION BY n ORDER BY g DESC, nc ASC) AS rn FROM sc{i}"
            f") WHERE rn = 1 UNION ALL "
            f"SELECT n, c FROM {a} WHERE n % 2 <> {p})"
        )
    A = f"a{n_iter}"
    ctes += [
        f"rt AS MATERIALIZED (SELECT lab, "
        f"row_number() OVER (ORDER BY lab) AS rid "
        f"FROM (SELECT DISTINCT c AS lab FROM {A}))",
        f"ce AS MATERIALIZED (SELECT rs.rid AS s, rr.rid AS t, "
        f"count(*) AS w "
        f"FROM ed JOIN {A} x ON ed.s = x.n JOIN {A} y ON ed.t = y.n "
        f"JOIN rt rs ON x.c = rs.lab JOIN rt rr ON y.c = rr.lab "
        f"WHERE x.c <> y.c GROUP BY rs.rid, rr.rid)",
        f"cdeg AS MATERIALIZED (SELECT rt.rid AS n, sum(deg.d) AS d "
        f"FROM {A} JOIN deg ON {A}.n = deg.n "
        f"JOIN rt ON {A}.c = rt.lab GROUP BY rt.rid)",
        "b0 AS (SELECT n, n AS c FROM cdeg)",
    ]
    for i in range(n_iter):
        p, b = i % 2, f"b{i}"
        ctes.append(
            f"kinb{i} AS (SELECT ce.s AS n, {b}.c AS nc, sum(ce.w) AS k "
            f"FROM ce JOIN {b} ON ce.t = {b}.n WHERE ce.s % 2 = {p} "
            f"GROUP BY ce.s, {b}.c)"
        )
        ctes.append(
            f"totb{i} AS (SELECT {b}.c AS nc, sum(cdeg.d) AS st "
            f"FROM {b} JOIN cdeg ON {b}.n = cdeg.n GROUP BY {b}.c)"
        )
        ctes.append(
            f"candb{i} AS (SELECT n, nc, k FROM kinb{i} UNION ALL "
            f"SELECT n, c AS nc, 0 AS k FROM {b} WHERE n % 2 = {p})"
        )
        ctes.append(
            f"scb{i} AS (SELECT c.n, c.nc, "
            f"2 * mt.m * c.k - cdeg.d * (t.st - "
            f"CASE WHEN c.nc = {b}.c THEN cdeg.d ELSE 0 END) AS g "
            f"FROM candb{i} c JOIN {b} ON c.n = {b}.n "
            f"JOIN cdeg ON c.n = cdeg.n JOIN totb{i} t ON c.nc = t.nc "
            f"CROSS JOIN mt)"
        )
        ctes.append(
            f"b{i + 1} AS MATERIALIZED (SELECT n, nc AS c FROM ("
            f"SELECT n, nc, row_number() OVER "
            f"(PARTITION BY n ORDER BY g DESC, nc ASC) AS rn FROM scb{i}"
            f") WHERE rn = 1 UNION ALL "
            f"SELECT n, c FROM {b} WHERE n % 2 <> {p})"
        )
    B = f"b{n_iter}"
    ctes += [
        f"proj AS MATERIALIZED (SELECT {A}.n AS n, {B}.c AS c "
        f"FROM {A} JOIN rt ON {A}.c = rt.lab JOIN {B} ON rt.rid = {B}.n)",
        f"d0 AS (SELECT {A}.c AS cc, sum(deg.d) AS dc "
        f"FROM {A} JOIN deg ON {A}.n = deg.n GROUP BY {A}.c)",
        f"w0 AS (SELECT x.c AS cc, count(*) AS wc "
        f"FROM ed JOIN {A} x ON ed.s = x.n JOIN {A} y ON ed.t = y.n "
        f"WHERE x.c = y.c GROUP BY x.c)",
        "s0 AS (SELECT sum(2*mt.m*coalesce(w0.wc, 0) - d0.dc*d0.dc) AS s "
        "FROM d0 LEFT JOIN w0 USING (cc) CROSS JOIN mt)",
        "d1 AS (SELECT proj.c AS cc, sum(deg.d) AS dc "
        "FROM proj JOIN deg ON proj.n = deg.n GROUP BY proj.c)",
        "w1 AS (SELECT x.c AS cc, count(*) AS wc "
        "FROM ed JOIN proj x ON ed.s = x.n JOIN proj y ON ed.t = y.n "
        "WHERE x.c = y.c GROUP BY x.c)",
        "s1 AS (SELECT sum(2*mt.m*coalesce(w1.wc, 0) - d1.dc*d1.dc) AS s "
        "FROM d1 LEFT JOIN w1 USING (cc) CROSS JOIN mt)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n AS node, CAST(c AS BIGINT) AS community FROM (
  SELECT {A}.n, {A}.c FROM {A}, s0, s1 WHERE s1.s <= s0.s
  UNION ALL
  SELECT proj.n, proj.c FROM proj, s0, s1 WHERE s1.s > s0.s
) z"""
    )


_SQL_LOUVAIN_MULTILEVEL = _sql_louvain_multilevel(2)


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity gate (operators/validate.py l_diversity,
    Machanavajjhala et al. 2007): customer classes by (segment,
    acctbal/1000 bucket) must span >= 5 distinct nations. Two
    map-side aggregates (no count-distinct Expand) + one keyed
    join-back; all-integer, bit-exact."""
    from etl_core_spark.operators.base import get_operator

    cust = _t(spark, sf_dir, "customer")
    prep = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("bal"),
        F.col("c_nationkey").alias("nat"),
    )
    out = get_operator("l_diversity")(
        quasi_cols=["seg", "bal"], sensitive_col="nat", l=5, mode="flag"
    ).apply({"in": prep})["out"]
    return out.select("c_custkey", "l_diverse")


_SQL_L_DIVERSITY = """
WITH q AS (
  SELECT c_custkey, c_mktsegment AS seg,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal,
         c_nationkey AS nat
  FROM customer
), fine AS (
  SELECT seg, bal, nat FROM q GROUP BY seg, bal, nat
), cls AS (
  SELECT seg, bal, count(*) AS ndv FROM fine GROUP BY seg, bal
)
SELECT q.c_custkey, (cls.ndv >= 5) AS l_diverse
FROM q JOIN cls ON q.seg = cls.seg AND q.bal = cls.bal
"""


def _pca_fixed_model():
    """Deterministic pinned PCA basis shared by the Spark entry and
    the SQL generator: small rational components/mean from a closed
    formula, so both engines embed the IDENTICAL double literals."""
    dim = 64
    mean = [((i % 5) - 2) / 10.0 for i in range(dim)]
    comps = [
        [(((i * (j + 2) + 7) % 13) - 6) / 10.0 for i in range(dim)]
        for j in range(2)
    ]
    return mean, comps


def q_pca_project_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-basis PCA projection (operators/similarity.py
    pca_project) — the bpe_encode_fixed precedent applied to the PCA
    family: PROJECTION with a pinned (mean, components) model is
    closed-form deterministic even though FITTING is iterative
    numpy SVD (pca_project stays rows-only). The centered dot is a
    left-associative fold from 0.0 (functions/vectors.py dot),
    mirrored by an unrolled left-assoc sum in the oracle — bit-exact,
    so the 4dp floor quantization (tie-free, the random_projection
    convention) matches exactly."""
    from etl_core_spark.operators.similarity import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    mean, comps = _pca_fixed_model()
    out = pca_project(
        emb, {"components": comps, "mean": mean}, "embedding"
    )
    return out.select(
        "vec_id",
        F.col("pc")[0].alias("pc0"),
        F.col("pc")[1].alias("pc1"),
    )


def _sql_pca_project_fixed() -> str:
    mean, comps = _pca_fixed_model()

    def dot_expr(c):
        terms = " + ".join(
            f"(embedding[{i + 1}]::DOUBLE - ({mean[i]!r})) * ({c[i]!r})"
            for i in range(len(mean))
        )
        return f"floor((0.0 + {terms}) * 10000.0) / 10000.0"

    return (
        "SELECT vec_id, "
        + dot_expr(comps[0])
        + " AS pc0, "
        + dot_expr(comps[1])
        + " AS pc1 FROM embeddings"
    )


_SQL_PCA_PROJECT_FIXED = _sql_pca_project_fixed()


def q_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity gate (operators/validate.py k_anonymize, Sweeney
    2002): customers bucketed by (market segment, acctbal/100) —
    every row flagged by whether >= 3 rows share its quasi-identifier
    class. One class count + one keyed join-back; all-integer
    class sizes, bit-exact."""
    from etl_core_spark.operators.base import get_operator

    cust = _t(spark, sf_dir, "customer")
    prep = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / F.lit(100.0)).cast("long").alias("bal"),
    )
    out = get_operator("k_anonymize")(
        quasi_cols=["seg", "bal"], k=3, mode="flag"
    ).apply({"in": prep})["out"]
    return out.select("c_custkey", "k_anonymous")


_SQL_K_ANONYMIZE = """
WITH q AS (
  SELECT c_custkey, c_mktsegment AS seg,
         CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal
  FROM customer
), cls AS (
  SELECT seg, bal, count(*) AS n FROM q GROUP BY seg, bal
)
SELECT q.c_custkey, (cls.n >= 3) AS k_anonymous
FROM q JOIN cls ON q.seg = cls.seg AND q.bal = cls.bal
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.py k_core, Seidman
    1983): 3-core of the part-supplier bipartite graph by 4 peel
    rounds. The peel is monotone, so the operator's early fixpoint
    exit can never disagree with the oracle's literal 4-round
    unroll; returned degrees are within-core degrees, all-integer —
    bit-exact."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 2)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return get_operator("k_core")(k=3, max_rounds=4).apply(
        {"in": edges}
    )["out"]


def _sql_k_core(k: int = 3, rounds: int = 4) -> str:
    """Unrolled peel oracle: degrees over the surviving edges, keep
    nodes >= k, restrict edges to kept x kept, repeat."""
    parts = ["""
WITH e0 AS (
  SELECT DISTINCT s, t FROM (
    SELECT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS t
    FROM lineitem
    WHERE l_orderkey % 4 = 2
      AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    UNION ALL
    SELECT l_suppkey * 2 + 1, l_partkey * 2
    FROM lineitem
    WHERE l_orderkey % 4 = 2
      AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
  )
)"""]
    for r in range(1, rounds + 1):
        parts.append(f""", d{r} AS (
  SELECT s, count(*) AS deg FROM e{r - 1} GROUP BY s
), k{r} AS (
  SELECT s, deg FROM d{r} WHERE deg >= {k}
)""")
        if r < rounds:
            parts.append(f""", e{r} AS (
  SELECT e.s, e.t FROM e{r - 1} e
  JOIN k{r} a ON e.s = a.s
  JOIN k{r} b ON e.t = b.s
)""")
    parts.append(f"""
SELECT s AS node, CAST(deg AS BIGINT) AS degree FROM k{rounds}
""")
    return "".join(parts)


_SQL_K_CORE = _sql_k_core()


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-celled DBSCAN (operators/density.py, Ester et al. 1996)
    over an integer-exact 2-D embedding of events: x = the cent
    value folded into a 0..2000 band, y = user_id * 100 (so only
    same-user points can ever be within eps=50). Integer coords +
    integer eps make every distance comparison exact, the banded
    cell join never materializes all pairs, and the oracle replays
    core/border/noise with a band self-join + recursive-CTE
    closure over the core graph. cluster = min member id; border
    points take the smallest adjacent core cluster (the
    deterministic variant of the textbook's scan-order rule)."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    pts = ev.where(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
        # deterministic 1-in-4 user panel: the certified thing is the
        # grid-join/core/border/noise machinery, not corpus size
        & (F.col("user_id") % 4 == 0)
    ).select(
        F.col("event_id").alias("id"),
        (
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            % F.lit(2000)
        ).alias("x"),
        (F.col("user_id") * F.lit(100)).alias("y"),
    )
    return get_operator("dbscan")(
        x_col="x", y_col="y", eps=50, min_pts=4, id_col="id"
    ).apply({"in": pts})["out"]


_SQL_DBSCAN = """
WITH RECURSIVE p AS (
  SELECT event_id AS id,
         CAST(floor(value*100 + 0.5) AS BIGINT) % 2000 AS x,
         user_id * 100 AS y
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL AND event_id IS NOT NULL
    AND user_id % 4 = 0
), nb AS (
  SELECT a.id AS qid, b.id AS nid
  FROM p a JOIN p b
    ON b.x BETWEEN a.x - 50 AND a.x + 50
   AND b.y BETWEEN a.y - 50 AND a.y + 50
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 2500
), cnt AS (
  SELECT qid, count(*) AS n FROM nb GROUP BY qid
), core AS (
  SELECT qid AS id FROM cnt WHERE n >= 4
), ce AS (
  SELECT nb.qid AS s, nb.nid AS t FROM nb
  JOIN core ca ON nb.qid = ca.id JOIN core cb ON nb.nid = cb.id
  WHERE nb.qid <> nb.nid
), reach(src, dst) AS (
  SELECT s, s FROM ce
  UNION
  SELECT r.src, e.t FROM reach r JOIN ce e ON r.dst = e.s
), cc AS (
  SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src
), corec AS (
  SELECT core.id, coalesce(cc.cluster, core.id) AS cluster
  FROM core LEFT JOIN cc ON core.id = cc.id
), border AS (
  SELECT nb.qid AS id, MIN(corec.cluster) AS cluster
  FROM nb
  JOIN corec ON nb.nid = corec.id
  WHERE nb.qid NOT IN (SELECT id FROM core)
  GROUP BY nb.qid
)
SELECT p.id,
       coalesce(corec.cluster, border.cluster) AS cluster,
       corec.id IS NOT NULL AS is_core
FROM p
LEFT JOIN corec ON p.id = corec.id
LEFT JOIN border ON p.id = border.id
"""


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (operators/graph.py modularity) of the
    certified-shape LPA assignment (2 rounds here — plan depth is
    the bench price, the value contract is identical at any fixed
    count) on the part-supplier bipartite
    graph — the community-quality meter: per community
    (n_nodes, internal_edges, degree_sum, q_contrib), total
    modularity = sum(q_contrib). Two membership equi-joins + three
    map-side aggregates; 9dp floors on q_contrib only."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 1)
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    lpa = get_operator("label_propagation")(
        src="src", dst="dst", iterations=2
    ).apply({"in": edges})["out"]
    return get_operator("modularity")(
        src="src", dst="dst", node_col="node", community_col="label"
    ).apply({"in": edges, "assignment": lpa})["out"]


_SQL_MODULARITY = f"""
WITH {_sql_label_propagation_ctes(2)},
mem AS (SELECT node AS n, label AS community FROM l2),
canon AS (SELECT s, t FROM ed WHERE s < t),
mt AS (SELECT count(*) AS m FROM canon),
deg AS (SELECT s AS n, count(*) AS d FROM ed GROUP BY s),
lc AS (
  SELECT ms.community, count(*) AS internal_edges
  FROM canon
  JOIN mem ms ON canon.s = ms.n
  JOIN mem md ON canon.t = md.n
  WHERE ms.community = md.community
  GROUP BY ms.community
),
dc AS (
  SELECT community, count(*) AS n_nodes,
         sum(coalesce(deg.d, 0)) AS degree_sum
  FROM mem LEFT JOIN deg USING (n)
  GROUP BY community
)
SELECT dc.community,
       CAST(dc.n_nodes AS BIGINT) AS n_nodes,
       CAST(coalesce(lc.internal_edges, 0) AS BIGINT) AS internal_edges,
       CAST(dc.degree_sum AS BIGINT) AS degree_sum,
       floor((coalesce(lc.internal_edges, 0) / mt.m
              - power(dc.degree_sum / (2.0 * mt.m), 2.0)) * 1e9) / 1e9
         AS q_contrib
FROM dc LEFT JOIN lc USING (community) CROSS JOIN mt
"""


def q_shuffle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data shuffle (operators/sampling.py
    shuffle_rows): every document gets a stable global position in
    the md5-permutation. Spark computes ranks per hash-bucket in
    parallel plus broadcast offsets; the oracle runs the equivalent
    naive global row_number over (bucket, hash, key) — identical by
    construction because bucket is the leading sort key."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("shuffle_rows")(
        key_col="doc_id", salt="epoch1", n_buckets=16
    ).apply({"in": docs})["out"]
    return out.select("doc_id", "shuffle_pos")


_SQL_SHUFFLE_ROWS = f"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('epoch1' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS hv
  FROM documents
)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY hv % 16, hv, doc_id) - 1 AS BIGINT)
           AS shuffle_pos
FROM h
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation join (operators/skew.py salted_join): lineitem
    (probe) salt-joined to supplier (build, replicated salt_factor×),
    rolled up per supplier — semantics pinned IDENTICAL to the plain
    equi-join, which is exactly what the oracle runs. The salt is
    hashed from the probe row (never rand()), so retries and
    speculative tasks agree."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_extendedprice"
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name", "s_nationkey"
    )
    joined = get_operator("salted_join")(
        on=["l_suppkey"], salt_factor=4
    ).apply({"left": li, "right": supp})["out"]
    return (
        joined.where(F.col("s_nationkey") < 5)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


_SQL_SALTED_JOIN = """
SELECT s_name,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey < 5
GROUP BY s_name
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher web-corpus quality gates (functions/text.py, Rae et al.
    2021 A1.1): alpha-token fraction, bullet/ellipsis line fractions,
    symbol-to-word ratio, mean word length, and the combined
    repetition-independent pass boolean. All narrow codegen column
    expressions; the oracle recomputes each with DuckDB list lambdas
    over the identical whitespace tokenization."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    out = get_operator("text_analysis")(
        metrics=(
            "mean_token_length", "alpha_token_frac", "bullet_line_frac",
            "ellipsis_line_frac", "symbol_token_ratio", "gopher_rules_pass",
        ),
    ).apply({"in": docs})["out"]
    return out.select(
        "doc_id", "mean_token_length", "alpha_token_frac",
        "bullet_line_frac", "ellipsis_line_frac", "symbol_token_ratio",
        "gopher_rules_pass",
    )


# raw-case tokens (Gopher metrics don't lowercase; _TOKS does)
_TOKS_CASED = (
    "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)

_SQL_GOPHER = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_CASED} AS toks,
         list_filter(string_split(text, chr(10)),
                     ln -> length(trim(ln)) > 0) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, tk -> length(tk)))
                        AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mwl,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks,
                        tk -> regexp_matches(tk, '[A-Za-z]'))) AS DOUBLE)
                   / len(toks)
              ELSE 0.0 END AS alpha_frac,
         CASE WHEN len(lines) > 0
              THEN CAST(len(list_filter(lines,
                        ln -> substr(ltrim(ln), 1, 1) IN ('-', '*', '•')))
                        AS DOUBLE) / len(lines)
              ELSE 0.0 END AS bullet_frac,
         CASE WHEN len(lines) > 0
              THEN CAST(len(list_filter(lines,
                        ln -> ends_with(rtrim(ln), '...')
                              OR ends_with(rtrim(ln), '…'))) AS DOUBLE)
                   / len(lines)
              ELSE 0.0 END AS ellipsis_frac,
         CASE WHEN len(toks) > 0
              THEN CAST((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) / 3
                   + (length(text) - length(replace(text, '…', '')))
                   AS DOUBLE) / len(toks)
              ELSE 0.0 END AS symbol_ratio,
         len(toks) AS n_tok
  FROM t
)
SELECT doc_id,
       round(mwl, 6) AS mean_token_length,
       round(alpha_frac, 6) AS alpha_token_frac,
       round(bullet_frac, 6) AS bullet_line_frac,
       round(ellipsis_frac, 6) AS ellipsis_line_frac,
       round(symbol_ratio, 6) AS symbol_token_ratio,
       (n_tok >= 50 AND n_tok <= 100000
        AND mwl >= 3.0 AND mwl <= 10.0
        AND alpha_frac >= 0.80 AND symbol_ratio <= 0.10
        AND bullet_frac <= 0.90 AND ellipsis_frac <= 0.30)
           AS gopher_rules_pass
FROM m
"""


def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded training export round-trip (sources/export_io.py):
    documents → export_shards sink (deterministic md5 shard
    assignment, _manifest.json) → read the export back. The oracle
    recomputes the shard arithmetic (md5-prefix % n, the hash_sample
    convention), so the certified surface is write + assignment +
    read-back, not just the expression."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out_dir = _scratch_dir("export_shards")
    get_operator("export_shards")(
        filepath=out_dir, key_col="doc_id", n_shards=8
    ).write(docs)
    back = spark.read.parquet(out_dir)
    return back.select(
        "doc_id", "lang", F.col("shard").cast("long").alias("shard")
    )


_SQL_EXPORT_SHARDS = f"""
SELECT doc_id, lang,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 8 AS BIGINT) AS shard
FROM documents
"""


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit + project (operators/similarity.py pca_fit /
    pca_project): distributed d×d moment pass (Arrow-batched partial
    Gram matrices, positional reduce — nothing row-sized reaches the
    driver), driver-side eigh of the d×d covariance, then a narrow-
    map projection onto the top-4 components. ROWS-ONLY by contract:
    the basis is a data-dependent eigendecomposition no SQL engine
    reproduces — the value-level certification is the exact numpy
    differential in tests/test_projection.py (fit matches
    full-data numpy PCA to 1e-9 at test scale)."""
    from etl_core_spark.operators.base import get_operator

    emb = _t(spark, sf_dir, "embeddings")
    op = get_operator("pca")(dim=64, k=4, vec_col="embedding")
    out = op.apply({"in": emb})["out"]
    return out.select(
        "vec_id",
        *[F.element_at("pc", j + 1).alias(f"pc{j}") for j in range(4)],
    )


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple smoothing (operators/timeseries.py
    holt_winters, Winters 1960): per-user level+trend+seasonal with
    period 4 along (ts, event_id). The seasonal ring unrolls to FOUR
    rotating slot columns in the oracle's recursive CTE (zero-init,
    the operator's documented convention); l_new is computed once in
    a subquery layer and reused (the holt_linear discipline), so both
    engines replay the identical float sequence; 9dp floors pin
    rendering."""
    from etl_core_spark.operators.base import get_operator

    # narrow projection: only the key/order/value columns ride the
    # Arrow round-trip (props/event_type would double the bytes)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = get_operator("holt_winters")(
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", period=4, alpha=0.3, beta=0.1, gamma=0.2,
    ).apply({"in": ev})["out"]
    return out.select("event_id", "user_id", "level", "trend", "seasonal")


_SQL_HOLT_WINTERS = """
WITH RECURSIVE o AS (
  SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT event_id, user_id, rn, x AS l, 0e0 AS b, 0e0 AS s,
         0e0 AS c1, 0e0 AS c2, 0e0 AS c3, 0e0 AS c4
  FROM o WHERE rn = 1
  UNION ALL
  SELECT event_id, user_id, rn, lnew AS l,
         0.1e0 * (lnew - l_prev) + (1e0 - 0.1e0) * b_prev AS b,
         0.2e0 * (x - lnew) + (1e0 - 0.2e0) * s_old AS s,
         c2 AS c1, c3 AS c2, c4 AS c3,
         0.2e0 * (x - lnew) + (1e0 - 0.2e0) * s_old AS c4
  FROM (
    SELECT o.event_id, o.user_id, o.rn, o.x,
           0.3e0 * (o.x - r.c1) + (1e0 - 0.3e0) * (r.l + r.b) AS lnew,
           r.c1 AS s_old, r.l AS l_prev, r.b AS b_prev,
           r.c2 AS c2, r.c3 AS c3, r.c4 AS c4
    FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
  )
)
SELECT event_id, user_id,
       floor(l * 1e9) / 1e9 AS level,
       floor(b * 1e9) / 1e9 AS trend,
       floor(s * 1e9) / 1e9 AS seasonal
FROM r
"""


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend (operators/timeseries.py theil_sen):
    per-user median pairwise slope (per DAY: micros / 86400e6) over
    the purchase series, plus the median-residual intercept. The
    pairwise-slope multiset is order-independent and Spark's exact
    percentile shares DuckDB quantile_cont's (n-1)*p interpolation
    (the winsorize pin); the intercept reuses the UNquantized slope
    double, so the whole chain is bit-identical; 9dp floors pin
    rendering. unix_micros(cast ts) == epoch_us(ts) under the pinned
    UTC session."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        "value",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tnum"),
    )
    out = get_operator("theil_sen")(
        key_cols=["user_id"], time_col="tnum", value_col="value",
        time_divisor=86400e6,
    ).apply({"in": ev})["out"]
    return out.select("user_id", "n_obs", "n_pairs", "slope", "intercept")


_SQL_THEIL_SEN = """
WITH o AS (
  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS t,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
), p AS (
  SELECT a.user_id AS user_id,
         (b.v - a.v) / ((b.t - a.t) / 86400000000e0) AS slope
  FROM o a JOIN o b ON a.user_id = b.user_id AND a.t < b.t
), s AS (
  SELECT user_id, COUNT(*) AS n_pairs,
         quantile_cont(slope, 0.5e0) AS m
  FROM p GROUP BY user_id
)
SELECT o.user_id AS user_id,
       COUNT(*) AS n_obs,
       CAST(s.n_pairs AS BIGINT) AS n_pairs,
       floor(s.m * 1e9) / 1e9 AS slope,
       floor(quantile_cont(o.v - s.m * (o.t / 86400000000e0), 0.5e0)
             * 1e9) / 1e9 AS intercept
FROM o JOIN s ON o.user_id = s.user_id
GROUP BY o.user_id, s.n_pairs, s.m
"""


def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance (operators/profile.py
    benford_deviation): chi-square + Nigrini MAD of o_totalprice digit
    shares per order priority. The digit comes from the INTEGER cents
    string (never log10 — libm rounding at power-of-ten boundaries is
    engine-specific); counts are exact ints, the chi2/mad sums are
    fixed left-to-right over the same repr'd Benford literals, so the
    doubles are identical; 9dp floors pin rendering."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders")
    out = get_operator("benford_deviation")(
        value_col="o_totalprice", group_cols=["o_orderpriority"],
        threshold=15.507,
    ).apply({"in": orders})["out"]
    return out.select("o_orderpriority", "n", "chi2", "mad", "alarm")


def _benford_sql() -> str:
    from etl_core_spark.operators.profile import BENFORD_P

    digit = (
        "substr(CAST(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100e0 "
        "+ 0.5e0) AS BIGINT) AS VARCHAR), 1, 1)"
    )
    counts = ",\n         ".join(
        f"SUM(CASE WHEN d = '{i}' THEN 1 ELSE 0 END) AS c{i}"
        for i in range(1, 10)
    )
    n_expr = " + ".join(f"c{i}" for i in range(1, 10))
    shares = [
        f"(CAST(c{i} AS DOUBLE) / CAST(n AS DOUBLE))" for i in range(1, 10)
    ]
    lits = [f"{BENFORD_P[i - 1]!r}e0" for i in range(1, 10)]
    chi2 = " + ".join(
        f"({s} - {p}) * ({s} - {p}) / {p}" for s, p in zip(shares, lits)
    )
    mad = " + ".join(f"abs({s} - {p})" for s, p in zip(shares, lits))
    return f"""
WITH b AS (
  SELECT o_orderpriority, {digit} AS d
  FROM orders
  WHERE o_totalprice IS NOT NULL
    AND floor(CAST(o_totalprice AS DOUBLE) * 100e0 + 0.5e0) >= 1
), c AS (
  SELECT o_orderpriority,
         {counts}
  FROM b GROUP BY o_orderpriority
), t AS (
  SELECT o_orderpriority, CAST({n_expr} AS BIGINT) AS n,
         c1, c2, c3, c4, c5, c6, c7, c8, c9
  FROM c
)
SELECT o_orderpriority, n,
       floor((CAST(n AS DOUBLE) * ({chi2})) * 1e9) / 1e9 AS chi2,
       floor((({mad}) / 9e0) * 1e9) / 1e9 AS mad,
       (CAST(n AS DOUBLE) * ({chi2})) > 15.507e0 AS alarm
FROM t
"""


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage
    (operators/linkage.py record_linkage, Fellegi & Sunter 1969):
    customer self-linkage blocked on (nation, segment), scoring name
    edit distance (m=0.9/u=0.05), account-balance proximity
    (m=0.85/u=0.1) and the 4-digit name prefix (m=0.8/u=0.02). The
    ln(m/u) weights fold DRIVER-side and inject as repr'd double
    literals into BOTH engines; levenshtein is the classic DP
    distance in both; the score sum is left-associative in comparison
    order; 6dp floors pin rendering. Pairs under lower=0 drop\n    (the prefix-only agreement band scores -0.35 and would flood the\n    output with every random same-prefix pair)."""
    from etl_core_spark.operators.base import get_operator

    # spread the probe side: the pair fan-out makes scoring CPU-bound,
    # and the local parquet arrives in ~2 partitions — a cluster input
    # would already be spread; 15k rows reshuffle for free. The count
    # is EXPLICIT so AQE's small-partition coalescing (input bytes are
    # tiny, the fan-out is not) leaves the spread alone
    cust = _t(spark, sf_dir, "customer").select(
        "*", F.expr("substring(c_name, 10, 4)").alias("c_name4")
    ).repartition(32, "c_nationkey", "c_mktsegment")
    out = get_operator("record_linkage")(
        id_col="c_custkey",
        block_cols=["c_nationkey", "c_mktsegment"],
        comparisons=_LINKAGE_COMPARISONS,
        lower=0.0,
        upper=3.0,
    ).apply({"in": cust})["out"]
    return out.select(
        "id_a", "id_b", "agree_c_name", "agree_c_acctbal",
        "agree_c_name4", "score", "match_class",
    )


_LINKAGE_COMPARISONS = [
    {"col": "c_name", "kind": "levenshtein", "threshold": 2,
     "m": 0.9, "u": 0.05},
    {"col": "c_acctbal", "kind": "abs_diff", "threshold": 100.0,
     "m": 0.85, "u": 0.1},
    {"col": "c_name4", "kind": "equal", "m": 0.8, "u": 0.02},
]


def _record_linkage_sql() -> str:
    from etl_core_spark.operators.linkage import _weights

    ws = _weights(_LINKAGE_COMPARISONS)
    case = (
        f"(CASE WHEN g1 THEN {ws[0][0]!r}e0 ELSE {ws[0][1]!r}e0 END"
        f" + CASE WHEN g2 THEN {ws[1][0]!r}e0 ELSE {ws[1][1]!r}e0 END)"
        f" + CASE WHEN g3 THEN {ws[2][0]!r}e0 ELSE {ws[2][1]!r}e0 END"
    )
    return f"""
WITH c2 AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         substr(c_name, 10, 4) AS c_name4
  FROM customer
), p AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         coalesce(levenshtein(a.c_name, b.c_name) <= 2, FALSE) AS g1,
         coalesce(abs(CAST(a.c_acctbal AS DOUBLE)
                      - CAST(b.c_acctbal AS DOUBLE)) <= 100e0,
                  FALSE) AS g2,
         (a.c_name4 IS NOT DISTINCT FROM b.c_name4) AS g3
  FROM c2 a JOIN c2 b
    ON a.c_nationkey IS NOT DISTINCT FROM b.c_nationkey
   AND a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
  WHERE a.c_nationkey IS NOT NULL AND a.c_mktsegment IS NOT NULL
    AND a.c_custkey < b.c_custkey
), s AS (
  SELECT id_a, id_b, g1, g2, g3, {case} AS sc
  FROM p
)
SELECT id_a, id_b,
       g1 AS agree_c_name, g2 AS agree_c_acctbal, g3 AS agree_c_name4,
       floor(sc * 1e6) / 1e6 AS score,
       CASE WHEN sc >= 3e0 THEN 'match' ELSE 'possible' END AS match_class
FROM s WHERE sc >= 0e0
"""


_SNM_COMPARISONS = [
    {"col": "c_name", "kind": "levenshtein", "threshold": 2,
     "m": 0.9, "u": 0.05},
    {"col": "c_mktsegment", "kind": "equal", "m": 0.85, "u": 0.2},
    {"col": "c_name4", "kind": "equal", "m": 0.8, "u": 0.02},
]


def q_snm_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (operators/linkage.py
    record_linkage method='sorted', Hernández & Stolfo 1995):
    customers within 5 positions of the global (c_acctbal,
    c_custkey) order pair up and score under the same Fellegi-Sunter
    weights machinery as record_linkage. The engine's distributed
    rank (range shuffle + partition-local row_number + offset
    broadcast) equals the oracle's global row_number because the
    sort key is TOTAL (id tie-break appended); NULLS FIRST pinned on
    both sides (the cdc_apply lesson); 6dp floors pin rendering."""
    from etl_core_spark.operators.base import get_operator

    cust = _t(spark, sf_dir, "customer").select(
        "*", F.expr("substring(c_name, 10, 4)").alias("c_name4")
    )
    out = get_operator("record_linkage")(
        id_col="c_custkey",
        method="sorted",
        sort_cols=["c_acctbal"],
        window=5,
        comparisons=_SNM_COMPARISONS,
        lower=-3.0,
        upper=3.0,
    ).apply({"in": cust})["out"]
    return out.select(
        "id_a", "id_b", "agree_c_name", "agree_c_mktsegment",
        "agree_c_name4", "score", "match_class",
    )


def _snm_sql() -> str:
    from etl_core_spark.operators.linkage import _weights

    ws = _weights(_SNM_COMPARISONS)
    case = (
        f"(CASE WHEN g1 THEN {ws[0][0]!r}e0 ELSE {ws[0][1]!r}e0 END"
        f" + CASE WHEN g2 THEN {ws[1][0]!r}e0 ELSE {ws[1][1]!r}e0 END)"
        f" + CASE WHEN g3 THEN {ws[2][0]!r}e0 ELSE {ws[2][1]!r}e0 END"
    )
    return f"""
WITH c2 AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
         substr(c_name, 10, 4) AS c_name4,
         row_number() OVER (ORDER BY c_acctbal ASC NULLS FIRST,
                            c_custkey ASC NULLS FIRST) AS rn
  FROM customer
), p AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         coalesce(levenshtein(a.c_name, b.c_name) <= 2, FALSE) AS g1,
         (a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment) AS g2,
         (a.c_name4 IS NOT DISTINCT FROM b.c_name4) AS g3
  FROM c2 a JOIN c2 b
    ON b.rn - a.rn >= 1 AND b.rn - a.rn < 5
), s AS (
  SELECT id_a, id_b, g1, g2, g3, {case} AS sc
  FROM p
)
SELECT id_a, id_b,
       g1 AS agree_c_name, g2 AS agree_c_mktsegment,
       g3 AS agree_c_name4,
       floor(sc * 1e6) / 1e6 AS score,
       CASE WHEN sc >= 3e0 THEN 'match' ELSE 'possible' END AS match_class
FROM s WHERE sc >= -3e0
"""


_PSI_EDGES = [10.0, 20.0, 30.0, 50.0, 80.0]


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators/compare.py psi_drift):
    per-user view-vs-purchase value distributions over fixed config
    edges. Bucket counts are exact ints, the Laplace-smoothed shares
    and the left-associative bucket sum are the identical double
    expressions in both engines (ln agreed cross-engine for the JS
    divergence precedent at the same 6dp floor)."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("psi_drift")(
        value_col="value", edges=_PSI_EDGES, group_cols=["user_id"],
        threshold=0.2,
    ).apply({
        "left": ev.where(F.col("event_type") == "view"),
        "right": ev.where(F.col("event_type") == "purchase"),
    })["out"]
    return out.select("user_id", "n_left", "n_right", "psi", "drift")


def _psi_sql() -> str:
    es = _PSI_EDGES
    nb = len(es) + 1
    eps = 1e-4
    denom_add = float(nb) * eps
    whens = " ".join(
        f"WHEN v < {e!r}e0 THEN {i}" for i, e in enumerate(es)
    )
    bucket = f"CASE {whens} ELSE {nb - 1} END"

    def counts(side):
        return ",\n         ".join(
            f"SUM(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS {side}{i}"
            for i in range(nb)
        )

    tot_e = " + ".join(f"e{i}" for i in range(nb))
    tot_a = " + ".join(f"a{i}" for i in range(nb))

    def share(side, i, n):
        return (
            f"((CAST({side}{i} AS DOUBLE) + {eps!r}e0)"
            f" / (CAST({n} AS DOUBLE) + {denom_add!r}e0))"
        )

    terms = " + ".join(
        f"({share('a', i, 'na')} - {share('e', i, 'ne')})"
        f" * ln({share('a', i, 'na')} / {share('e', i, 'ne')})"
        for i in range(nb)
    )
    return f"""
WITH lv AS (
  SELECT user_id, {bucket} AS b
  FROM (SELECT user_id, CAST(value AS DOUBLE) AS v FROM events
        WHERE event_type = 'view' AND value IS NOT NULL)
), rv AS (
  SELECT user_id, {bucket} AS b
  FROM (SELECT user_id, CAST(value AS DOUBLE) AS v FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL)
), lc AS (
  SELECT user_id, {counts('e')}
  FROM lv GROUP BY user_id
), rc AS (
  SELECT user_id, {counts('a')}
  FROM rv GROUP BY user_id
), j AS (
  SELECT coalesce(lc.user_id, rc.user_id) AS user_id,
         {", ".join(f"CAST(coalesce(e{i}, 0) AS BIGINT) AS e{i}" for i in range(nb))},
         {", ".join(f"CAST(coalesce(a{i}, 0) AS BIGINT) AS a{i}" for i in range(nb))}
  FROM lc FULL OUTER JOIN rc ON lc.user_id = rc.user_id
), t AS (
  SELECT user_id, {", ".join(f"e{i}" for i in range(nb))},
         {", ".join(f"a{i}" for i in range(nb))},
         CAST({tot_e} AS BIGINT) AS ne, CAST({tot_a} AS BIGINT) AS na
  FROM j
)
SELECT user_id, ne AS n_left, na AS n_right,
       floor(({terms}) * 1e6) / 1e6 AS psi,
       ({terms}) > 0.2e0 AS drift
FROM t
"""


_OLS_X_OFFSET = 1704067200000000  # 2024-01-01 UTC in microseconds


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closed-form OLS per user (operators/timeseries.py
    ols_trend) over the purchase series: every moment sum runs in
    exact fixed-point (micros minus the 2024-01-01 offset; cents), so
    Spark DECIMAL(38,0) and DuckDB HUGEINT get bit-identical moments
    regardless of reduction order, and the only float math is the
    fixed final expression; 9dp floors pin rendering. The least-
    squares sibling of theil_sen on the same series."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        "value",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tnum"),
    )
    out = get_operator("ols_trend")(
        key_cols=["user_id"], time_col="tnum", value_col="value",
        x_offset=_OLS_X_OFFSET, time_divisor=86400e6,
    ).apply({"in": ev})["out"]
    return out.select("user_id", "n", "slope", "intercept", "r2")


def _ols_sql() -> str:
    factor = 86400e6 / 100.0
    return f"""
WITH o AS (
  SELECT user_id,
         CAST(epoch_us(ts) - {_OLS_X_OFFSET} AS HUGEINT) AS x,
         CAST(floor(CAST(value AS DOUBLE) * 100e0 + 0.5e0)
              AS HUGEINT) AS y
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
), m AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM o GROUP BY user_id
), s AS (
  SELECT user_id, n, sx, sy,
         CAST(n AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n AS HUGEINT) * sxx - sx * sx AS den,
         CAST(n AS HUGEINT) * syy - sy * sy AS deny
  FROM m
)
SELECT user_id, n,
       CASE WHEN den != 0 AND deny != 0 THEN
         floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
               * {factor!r}e0 * 1e9) / 1e9
       END AS slope,
       CASE WHEN den != 0 AND deny != 0 THEN
         floor(((CAST(sy AS DOUBLE)
                 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                   * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE)) / 100e0 * 1e9) / 1e9
       END AS intercept,
       CASE WHEN den != 0 AND deny != 0 THEN
         floor((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
               / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))
               * 1e9) / 1e9
       END AS r2
FROM s
"""


def q_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (operators/compare.py prop_ztest):
    view-vs-click conversion (value > 50) per user. Exact integer
    counts feed a fixed float expression whose only non-arithmetic
    op is IEEE sqrt (correctly rounded everywhere); p-values are
    deliberately absent — erf is libm-specific — so the oracle
    compares z against the same repr'd 1.96 critical literal."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", (F.col("value") > F.lit(50.0)).alias("ok")
    )
    out = get_operator("prop_ztest")(
        variant_col="event_type", success_col="ok",
        control="view", treatment="click", group_cols=["user_id"],
    ).apply({"in": ev})["out"]
    return out.select(
        "user_id", "n_c", "x_c", "n_t", "x_t", "p_c", "p_t", "z",
        "significant",
    )


def _prop_ztest_sql() -> str:
    zc = 1.959963984540054
    return f"""
WITH b AS (
  SELECT user_id,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS c,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS t,
         CASE WHEN event_type = 'view'
                   AND coalesce(CAST(value AS DOUBLE) > 50e0, FALSE)
              THEN 1 ELSE 0 END AS cx,
         CASE WHEN event_type = 'click'
                   AND coalesce(CAST(value AS DOUBLE) > 50e0, FALSE)
              THEN 1 ELSE 0 END AS tx
  FROM events
  WHERE event_type = 'view' OR event_type = 'click'
), a AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_c, CAST(SUM(cx) AS BIGINT) AS x_c,
         CAST(SUM(t) AS BIGINT) AS n_t, CAST(SUM(tx) AS BIGINT) AS x_t
  FROM b GROUP BY user_id
), e AS (
  SELECT user_id, n_c, x_c, n_t, x_t,
         CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS pc,
         CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS pt,
         (CAST(x_c AS DOUBLE) + CAST(x_t AS DOUBLE))
           / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) AS pp,
         (n_c > 0 AND n_t > 0 AND x_c + x_t > 0
          AND x_c + x_t < n_c + n_t) AS ok
  FROM a
), z AS (
  SELECT user_id, n_c, x_c, n_t, x_t, pc, pt, ok,
         (pt - pc) / sqrt(pp * (1e0 - pp)
                          * (1e0 / CAST(n_c AS DOUBLE)
                             + 1e0 / CAST(n_t AS DOUBLE))) AS zv
  FROM e
)
SELECT user_id, n_c, x_c, n_t, x_t,
       CASE WHEN n_c > 0 THEN floor(pc * 1e9) / 1e9 END AS p_c,
       CASE WHEN n_t > 0 THEN floor(pt * 1e9) / 1e9 END AS p_t,
       CASE WHEN ok THEN floor(zv * 1e9) / 1e9 END AS z,
       CASE WHEN ok THEN abs(zv) > {zc!r}e0 END AS significant
FROM z
"""


def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic sampling (operators/sampling.py systematic_sample):
    every 100th event of the global (ts, event_id) order, offset 3,
    with the 1-based rank. The distributed rank (range shuffle +
    partition-local row_number + offset broadcast — shared with
    sorted-neighborhood linkage) equals the oracle's global
    row_number because the sort key is total; membership is then a
    pure modulo, so the row set is deterministic."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("systematic_sample")(
        sort_cols=["ts", "event_id"], step=100, offset=3, rank_col="rank",
    ).apply({"in": ev})["out"]
    return out.select("event_id", "user_id", "event_type", "value", "rank")


_SQL_SYSTEMATIC_SAMPLE = """
WITH r AS (
  SELECT event_id, user_id, event_type, value,
         row_number() OVER (ORDER BY ts ASC NULLS FIRST,
                            event_id ASC NULLS FIRST) AS rank
  FROM events
)
SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
       rank
FROM r
WHERE (rank - 1) % 100 = 3
"""


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve (operators/timeseries.py
    kaplan_meier, 1958): per-user product-limit estimator over the
    event values, error events right-censored. d/n come from exact
    integer aggregates and window cumsums; the survival product is a
    left-to-right fold whose censor-only steps multiply by exactly
    1.0 (a float no-op), replayed verbatim by the oracle's recursive
    CTE (the ewma discipline — 1e0*x == x bit-exact, so the base case
    drops the leading factor); 9dp floors pin rendering."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "value",
        (F.col("event_type") != F.lit("error")).alias("ev"),
    )
    out = get_operator("kaplan_meier")(
        key_cols=["user_id"], duration_col="value", event_col="ev",
    ).apply({"in": ev})["out"]
    return out.select(
        "user_id", "t", "n_risk", "n_event", "n_censor", "survival"
    )


_SQL_KAPLAN_MEIER = """
WITH RECURSIVE s AS (
  SELECT user_id, CAST(value AS DOUBLE) AS t,
         (event_type != 'error') AS e
  FROM events WHERE value IS NOT NULL
), a AS (
  SELECT user_id, t,
         CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
         CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS n_censor
  FROM s GROUP BY user_id, t
), w AS (
  SELECT user_id, t, n_event, n_censor,
         CAST(SUM(n_event + n_censor) OVER (PARTITION BY user_id)
              - SUM(n_event + n_censor) OVER (
                  PARTITION BY user_id ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              + n_event + n_censor AS BIGINT) AS n_risk,
         row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
  FROM a
), r AS (
  SELECT user_id, t, n_risk, n_event, n_censor, rn,
         (1e0 - CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS sv
  FROM w WHERE rn = 1
  UNION ALL
  SELECT w.user_id, w.t, w.n_risk, w.n_event, w.n_censor, w.rn,
         r.sv * (1e0 - CAST(w.n_event AS DOUBLE)
                       / CAST(w.n_risk AS DOUBLE)) AS sv
  FROM r JOIN w ON w.user_id = r.user_id AND w.rn = r.rn + 1
)
SELECT user_id, t, n_risk, n_event, n_censor,
       floor(sv * 1e9) / 1e9 AS survival
FROM r
"""


def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (operators/compare.py
    mannwhitney_u): view-vs-purchase value location shift per user.
    Tie-averaged rank sums are sums of exact half-integer doubles
    (floating addition is exact below 2^53, so reduction order can't
    matter) — U is bit-identical cross-engine with no quantization;
    z adds the tie-corrected variance and IEEE sqrt."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("mannwhitney_u")(
        value_col="value", group_cols=["user_id"],
    ).apply({
        "left": ev.where(F.col("event_type") == "view"),
        "right": ev.where(F.col("event_type") == "purchase"),
    })["out"]
    return out.select("user_id", "n_left", "n_right", "u", "z", "significant")


def _mwu_sql() -> str:
    zc = 1.959963984540054
    return f"""
WITH b AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s1,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s2
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
), c AS (
  SELECT user_id, v,
         CAST(SUM(s1) AS BIGINT) AS c1, CAST(SUM(s2) AS BIGINT) AS c2
  FROM b GROUP BY user_id, v
), w AS (
  SELECT user_id, c1, c2, (c1 + c2) AS tt,
         CAST(coalesce(SUM(c1 + c2) OVER (
             PARTITION BY user_id ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS bef
  FROM c
), a AS (
  SELECT user_id,
         CAST(SUM(c1) AS BIGINT) AS n_left,
         CAST(SUM(c2) AS BIGINT) AS n_right,
         SUM(CAST(c2 AS DOUBLE)
             * (CAST(bef AS DOUBLE)
                + (CAST(tt AS DOUBLE) + 1e0) / 2e0)) AS r2,
         CAST(SUM(tt * tt * tt - tt) AS BIGINT) AS ties
  FROM w GROUP BY user_id
), e AS (
  SELECT user_id, n_left, n_right,
         CAST(n_left AS DOUBLE) AS n1, CAST(n_right AS DOUBLE) AS n2,
         r2 - CAST(n_right AS DOUBLE)
              * (CAST(n_right AS DOUBLE) + 1e0) / 2e0 AS u,
         ties
  FROM a
), z AS (
  SELECT user_id, n_left, n_right, u,
         sqrt((n1 * n2 / 12e0)
              * ((n1 + n2 + 1e0)
                 - CAST(ties AS DOUBLE)
                   / ((n1 + n2) * (n1 + n2 - 1e0)))) AS sg,
         (u - n1 * n2 / 2e0) AS num
  FROM e
)
SELECT user_id, n_left, n_right, u,
       CASE WHEN n_left > 0 AND n_right > 0 AND sg > 0e0
            THEN floor((num / sg) * 1e9) / 1e9 END AS z,
       CASE WHEN n_left > 0 AND n_right > 0 AND sg > 0e0
            THEN abs(num / sg) > {zc!r}e0 END AS significant
FROM z
"""


_SPSI_EDGES = [10.0, 20.0, 30.0, 50.0, 80.0]
_SPSI_REF = [1, 1, 1, 1, 1, 1]  # uniform calibration histogram


def q_streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor (streaming/stream.py
    streaming_psi): hourly windows of event values scored against a
    uniform calibration histogram, run as a REAL availableNow stream
    in APPEND mode — the year-2100 sentinel (window dropped from the
    result) pushes the watermark past every 2024 window so all real
    windows emit. The sixth certified streaming shape (MG state /
    timers / windowed agg / dedup state / two-stream join / windowed
    DRIFT SCORE); the oracle is the identical fixed-order PSI
    expression over DuckDB hour buckets with the same repr'd
    reference-share literals."""
    import datetime
    import os
    import shutil
    import tempfile

    from etl_core_spark.streaming import streaming_psi

    # deterministic first-quarter-hour panel (VERDICT r10 #5): keeps
    # every hourly window alive with a quarter of the rows; the
    # oracle applies the same minute predicate
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.minute("ts") < 15)
        .select("ts", "value")
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="stream_psi_", dir=shm)
    try:
        src = os.path.join(work, "src")
        sentinel = datetime.datetime(2100, 1, 1)
        ev.unionByName(
            spark.createDataFrame([(sentinel, 0.0)], ev.schema)
        ).write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        scored = streaming_psi(
            stream, ts_col="ts", value_col="value",
            edges=_SPSI_EDGES, reference_counts=_SPSI_REF,
            window_duration="1 hour",
        ).select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
            "psi",
            "drift",
        )
        out_dir = os.path.join(work, "out")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
            q = (
                scored.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        rows = (
            spark.read.parquet(out_dir)
            .where(F.col("window_start") < "2099")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "window_start string, n long, psi double, drift boolean"
    )


def _streaming_psi_sql() -> str:
    es = _SPSI_EDGES
    nb = len(es) + 1
    eps = 1e-4
    ref_tot = float(sum(int(c) for c in _SPSI_REF))
    ref_shares = [
        (float(int(c)) + eps) / (ref_tot + float(nb) * eps)
        for c in _SPSI_REF
    ]
    whens = " ".join(
        f"WHEN v < {e!r}e0 THEN {i}" for i, e in enumerate(es)
    )
    bucket = f"CASE {whens} ELSE {nb - 1} END"
    counts = ",\n         ".join(
        f"SUM(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS a{i}"
        for i in range(nb)
    )
    n_expr = " + ".join(f"a{i}" for i in range(nb))

    def a(i):
        return (
            f"((CAST(a{i} AS DOUBLE) + {eps!r}e0)"
            f" / (CAST(n AS DOUBLE) + {float(nb) * eps!r}e0))"
        )

    terms = " + ".join(
        f"({a(i)} - {ref_shares[i]!r}e0)"
        f" * ln({a(i)} / {ref_shares[i]!r}e0)"
        for i in range(nb)
    )
    return f"""
WITH b AS (
  SELECT date_trunc('hour', ts) AS h, {bucket} AS b
  FROM (SELECT ts, CAST(value AS DOUBLE) AS v FROM events
        WHERE value IS NOT NULL AND date_part('minute', ts) < 15)
), c AS (
  SELECT h, {counts}
  FROM b GROUP BY h
), t AS (
  SELECT h, CAST({n_expr} AS BIGINT) AS n,
         {", ".join(f"CAST(a{i} AS BIGINT) AS a{i}" for i in range(nb))}
  FROM c
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start, n,
       floor(({terms}) * 1e6) / 1e6 AS psi,
       ({terms}) > 0.2e0 AS drift
FROM t
"""


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch unequal-variance t-test (operators/compare.py
    welch_ttest): view-vs-purchase mean difference per user. Every
    moment accumulates in exact fixed-point (cents in DECIMAL(38,0) /
    HUGEINT — the ols_trend trick), so means and ddof-1 variances are
    reduction-order independent; t and the Welch-Satterthwaite df are
    fixed expressions + IEEE sqrt. No p-values (incomplete beta is
    libm-specific) — |t| compares against the repr'd z bar."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    out = get_operator("welch_ttest")(
        value_col="value", group_cols=["user_id"],
    ).apply({
        "left": ev.where(F.col("event_type") == "view"),
        "right": ev.where(F.col("event_type") == "purchase"),
    })["out"]
    return out.select(
        "user_id", "n_left", "n_right", "mean_left", "mean_right",
        "t", "df", "significant",
    )


def _welch_sql() -> str:
    tc = 1.959963984540054
    return f"""
WITH l AS (
  SELECT user_id,
         CAST(floor(CAST(value AS DOUBLE) * 100e0 + 0.5e0)
              AS HUGEINT) AS y
  FROM events WHERE event_type = 'view' AND value IS NOT NULL
), r AS (
  SELECT user_id,
         CAST(floor(CAST(value AS DOUBLE) * 100e0 + 0.5e0)
              AS HUGEINT) AS y
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), la AS (
  SELECT user_id, COUNT(*) AS n_l, SUM(y) AS s_l, SUM(y * y) AS ss_l
  FROM l GROUP BY user_id
), ra AS (
  SELECT user_id, COUNT(*) AS n_r, SUM(y) AS s_r, SUM(y * y) AS ss_r
  FROM r GROUP BY user_id
), j AS (
  SELECT coalesce(la.user_id, ra.user_id) AS user_id,
         CAST(coalesce(n_l, 0) AS BIGINT) AS n_left,
         CAST(coalesce(n_r, 0) AS BIGINT) AS n_right,
         s_l, ss_l, s_r, ss_r
  FROM la FULL OUTER JOIN ra ON la.user_id = ra.user_id
), e AS (
  SELECT user_id, n_left, n_right,
         (CAST(s_l AS DOUBLE) / CAST(n_left AS DOUBLE)) / 100e0 AS m1,
         (CAST(s_r AS DOUBLE) / CAST(n_right AS DOUBLE)) / 100e0 AS m2,
         (CAST(CAST(n_left AS HUGEINT) * ss_l - s_l * s_l AS DOUBLE)
          / (CAST(n_left AS DOUBLE)
             * (CAST(n_left AS DOUBLE) - 1e0))) / 10000e0 AS v1,
         (CAST(CAST(n_right AS HUGEINT) * ss_r - s_r * s_r AS DOUBLE)
          / (CAST(n_right AS DOUBLE)
             * (CAST(n_right AS DOUBLE) - 1e0))) / 10000e0 AS v2
  FROM j
), s AS (
  SELECT user_id, n_left, n_right, m1, m2, v1, v2,
         v1 / CAST(n_left AS DOUBLE)
           + v2 / CAST(n_right AS DOUBLE) AS se2
  FROM e
), z AS (
  SELECT user_id, n_left, n_right, m1, m2,
         (m1 - m2) / sqrt(se2) AS tv,
         (se2 * se2)
           / ((v1 / CAST(n_left AS DOUBLE))
                * (v1 / CAST(n_left AS DOUBLE))
                / (CAST(n_left AS DOUBLE) - 1e0)
              + (v2 / CAST(n_right AS DOUBLE))
                * (v2 / CAST(n_right AS DOUBLE))
                / (CAST(n_right AS DOUBLE) - 1e0)) AS dfv,
         (n_left >= 2 AND n_right >= 2 AND se2 > 0e0) AS ok
  FROM s
)
SELECT user_id, n_left, n_right,
       CASE WHEN n_left > 0 THEN floor(m1 * 1e9) / 1e9 END AS mean_left,
       CASE WHEN n_right > 0 THEN floor(m2 * 1e9) / 1e9 END AS mean_right,
       CASE WHEN ok THEN floor(tv * 1e9) / 1e9 END AS t,
       CASE WHEN ok THEN floor(dfv * 1e9) / 1e9 END AS df,
       CASE WHEN ok THEN abs(tv) > {tc!r}e0 END AS significant
FROM z
"""


_CHI2_CATS_A = ["F", "O", "P"]
_CHI2_CATS_B = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test + Cramér's V
    (operators/compare.py chi2_independence): order status vs
    priority per order year. Category lists are CONFIG literals (the
    psi_drift fixed-edges rule), so the 3x5 cell grid and its
    fixed-order chi2 sum are identical expressions in both
    engines."""
    from etl_core_spark.operators.base import get_operator

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority",
        F.year("o_orderdate").alias("o_year"),
    )
    out = get_operator("chi2_independence")(
        col_a="o_orderstatus", col_b="o_orderpriority",
        categories_a=_CHI2_CATS_A, categories_b=_CHI2_CATS_B,
        group_cols=["o_year"],
    ).apply({"in": orders})["out"]
    return out.select("o_year", "n", "chi2", "dof", "cramers_v")


def _chi2_sql() -> str:
    ca, cb = _CHI2_CATS_A, _CHI2_CATS_B
    na, nb = len(ca), len(cb)
    cells = ",\n         ".join(
        f"SUM(CASE WHEN a = '{ca[i]}' AND b = '{cb[j]}' THEN 1 ELSE 0 END)"
        f" AS c_{i}_{j}"
        for i in range(na)
        for j in range(nb)
    )
    n_expr = " + ".join(f"c_{i}_{j}" for i in range(na) for j in range(nb))
    rows = ", ".join(
        "CAST(" + " + ".join(f"c_{i}_{j}" for j in range(nb))
        + f" AS BIGINT) AS r{i}"
        for i in range(na)
    )
    kols = ", ".join(
        "CAST(" + " + ".join(f"c_{i}_{j}" for i in range(na))
        + f" AS BIGINT) AS k{j}"
        for j in range(nb)
    )
    terms = []
    for i in range(na):
        for j in range(nb):
            e = (
                f"(CAST(r{i} AS DOUBLE) * CAST(k{j} AS DOUBLE))"
                f" / CAST(n AS DOUBLE)"
            )
            d = f"(CAST(c_{i}_{j} AS DOUBLE) - {e})"
            terms.append(f"{d} * {d} / ({e})")
    chi2 = " + ".join(terms)
    ok = " AND ".join(
        ["n > 0"]
        + [f"r{i} > 0" for i in range(na)]
        + [f"k{j} > 0" for j in range(nb)]
    )
    vden = f"CAST(n AS DOUBLE) * {float(min(na, nb) - 1)!r}e0"
    return f"""
WITH b AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderstatus AS a, o_orderpriority AS b
  FROM orders
  WHERE o_orderstatus IN ({", ".join(f"'{c}'" for c in ca)})
    AND o_orderpriority IN ({", ".join(f"'{c}'" for c in cb)})
), c AS (
  SELECT o_year,
         {cells}
  FROM b GROUP BY o_year
), t AS (
  SELECT o_year, CAST({n_expr} AS BIGINT) AS n,
         {rows}, {kols},
         {", ".join(f"c_{i}_{j}" for i in range(na) for j in range(nb))}
  FROM c
)
SELECT o_year, n,
       CASE WHEN {ok} THEN floor(({chi2}) * 1e9) / 1e9 END AS chi2,
       {(na - 1) * (nb - 1)} AS dof,
       CASE WHEN {ok}
            THEN floor(sqrt(({chi2}) / ({vden})) * 1e9) / 1e9
       END AS cramers_v
FROM t
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (operators/timeseries.py
    seasonal_decompose): per-user trend/seasonal/residual with period
    4 along (ts, event_id). Everything up to the final expressions is
    INTEGER window arithmetic (cents, the 2xm centered-MA numerator,
    the detrended numerator y*2m - N), so the decomposition is
    reduction-order independent and the oracle replays it with the
    same window frames; 9dp floors pin rendering."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = get_operator("seasonal_decompose")(
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", period=4,
    ).apply({"in": ev})["out"]
    return out.select(
        "user_id", "event_id", "trend", "seasonal", "residual"
    )


_SQL_SEASONAL_DECOMPOSE = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CAST(floor(CAST(value AS DOUBLE) * 100e0 + 0.5e0)
              AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT user_id, ts, event_id, y,
         (row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) - 1) % 4 AS p,
         lag(y, 2) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS ylag,
         lead(y, 2) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS ylead,
         SUM(y) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS ymid,
         COUNT(y) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS cmid
  FROM o
), s AS (
  SELECT user_id, ts, event_id, y, p,
         CASE WHEN ylag IS NOT NULL AND ylead IS NOT NULL AND cmid = 3
              THEN ylag + 2 * ymid + ylead END AS n
  FROM r
), d AS (
  SELECT user_id, ts, event_id, y, p, n, y * 8 - n AS dd
  FROM s
), ph AS (
  SELECT user_id,
         SUM(CASE WHEN p = 0 THEN dd END) AS ds0,
         SUM(CASE WHEN p = 1 THEN dd END) AS ds1,
         SUM(CASE WHEN p = 2 THEN dd END) AS ds2,
         SUM(CASE WHEN p = 3 THEN dd END) AS ds3,
         CAST(SUM(CASE WHEN p = 0 AND dd IS NOT NULL THEN 1 END)
              AS BIGINT) AS dc0,
         CAST(SUM(CASE WHEN p = 1 AND dd IS NOT NULL THEN 1 END)
              AS BIGINT) AS dc1,
         CAST(SUM(CASE WHEN p = 2 AND dd IS NOT NULL THEN 1 END)
              AS BIGINT) AS dc2,
         CAST(SUM(CASE WHEN p = 3 AND dd IS NOT NULL THEN 1 END)
              AS BIGINT) AS dc3
  FROM d GROUP BY user_id
), sp AS (
  SELECT user_id,
         CAST(ds0 AS DOUBLE) / (CAST(dc0 AS DOUBLE) * 800e0) AS s0,
         CAST(ds1 AS DOUBLE) / (CAST(dc1 AS DOUBLE) * 800e0) AS s1,
         CAST(ds2 AS DOUBLE) / (CAST(dc2 AS DOUBLE) * 800e0) AS s2,
         CAST(ds3 AS DOUBLE) / (CAST(dc3 AS DOUBLE) * 800e0) AS s3
  FROM ph
), ctr AS (
  SELECT user_id, s0, s1, s2, s3,
         (s0 + s1 + s2 + s3) / 4e0 AS sbar
  FROM sp
)
SELECT d.user_id AS user_id, d.event_id AS event_id,
       floor((CAST(d.n AS DOUBLE) / 800e0) * 1e9) / 1e9 AS trend,
       floor((CASE d.p WHEN 0 THEN ctr.s0 - ctr.sbar
                       WHEN 1 THEN ctr.s1 - ctr.sbar
                       WHEN 2 THEN ctr.s2 - ctr.sbar
                       ELSE ctr.s3 - ctr.sbar END) * 1e9) / 1e9
         AS seasonal,
       floor((CAST(d.y AS DOUBLE) / 100e0
              - CAST(d.n AS DOUBLE) / 800e0
              - (CASE d.p WHEN 0 THEN ctr.s0 - ctr.sbar
                          WHEN 1 THEN ctr.s1 - ctr.sbar
                          WHEN 2 THEN ctr.s2 - ctr.sbar
                          ELSE ctr.s3 - ctr.sbar END)) * 1e9) / 1e9
         AS residual
FROM d JOIN ctr ON d.user_id = ctr.user_id
"""


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sample autocorrelation at lags 1-3
    (operators/timeseries.py acf, Box-Jenkins estimator with the
    full-series denominator) over the events value series ordered by
    (ts, event_id) — DECIMAL(38,0) integer moments so the r_k
    numerator/denominator are exact integers and the single final
    division hash-matches the DuckDB HUGEINT replay bit-for-bit."""
    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    return get_operator("acf")(
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", max_lag=3,
    ).apply({"in": ev})["out"]


def _sql_acf(max_lag: int = 3) -> str:
    """HUGEINT replay of the exact integer ACF moments: lead() over
    the same (ts, event_id) order, conditional head/tail sums, and
    the identical n^2-scaled closed form."""
    lead_cols = ", ".join(
        f"lead(y,{k}) OVER w AS y{k}" for k in range(1, max_lag + 1)
    )
    lag_aggs = ", ".join(
        f"count(y{k}) AS np{k}, sum(y*y{k}) AS sp{k}, "
        f"sum(CASE WHEN y{k} IS NOT NULL THEN y END) AS h{k}, "
        f"sum(y{k}) AS t{k}"
        for k in range(1, max_lag + 1)
    )
    branches = "\n  UNION ALL ".join(
        f"SELECT user_id, n, s, syy, {k} AS lag, np{k} AS np, "
        f"sp{k} AS sp, h{k} AS h, t{k} AS t FROM g"
        for k in range(1, max_lag + 1)
    )
    return f"""
WITH b AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value*100 + 0.5) AS HUGEINT) AS y
  FROM events WHERE value IS NOT NULL
), led AS (
  SELECT user_id, y, {lead_cols}
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT user_id, CAST(count(*) AS HUGEINT) AS n, sum(y) AS s,
         sum(y*y) AS syy, {lag_aggs}
  FROM led GROUP BY user_id
), e AS (
  {branches}
)
SELECT user_id, CAST(lag AS INTEGER) AS lag, CAST(np AS BIGINT) AS n_pairs,
       CASE WHEN n*(n*syy - s*s) <> 0 THEN
         floor(CAST(n*n*sp - n*s*(h+t) + CAST(np AS HUGEINT)*s*s AS DOUBLE)
               / CAST(n*(n*syy - s*s) AS DOUBLE) * 1e9) / 1e9
       END AS acf
FROM e WHERE np > 0
"""


_SQL_ACF = _sql_acf()


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (operators/text_analysis.py
    feature_hash, Weinberger et al. 2009) of documents into 256-dim
    signed sparse vectors — weights are exact ±1 term-frequency sums,
    bit-exact; the oracle replays the md5 index and sign chains."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("feature_hash")(
        id_col="doc_id", text_col="text", dim=256
    ).apply({"in": docs})["out"]


_SQL_FEATURE_HASH = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), x AS (
  SELECT doc_id, unnest(toks) AS tok FROM t
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS idx,
         CASE WHEN CAST(('0x' || substr(md5('#sign' || tok), 1, 8))
                   AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM x
)
SELECT doc_id, CAST(idx AS INTEGER) AS idx,
       CAST(sum(s) AS BIGINT) AS weight
FROM h GROUP BY doc_id, idx
"""


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives (operators/sampling.py
    negative_sample): every document gets 3 md5-derived pseudo-random
    other documents via the bucket-and-rank construction — the
    random-negatives half of a contrastive training set, stable
    across engines/reruns/partitionings. The oracle replays the
    exact md5 chains (bucket, in-bucket rank, pick)."""
    from etl_core_spark.operators.base import get_operator

    docs = _t(spark, sf_dir, "documents")
    return get_operator("negative_sample")(
        id_col="doc_id", k=3, buckets=16
    ).apply({"in": docs})["out"]


def _sql_negative_sample(k: int = 3, b: int = 16) -> str:
    """DuckDB replay of the md5 bucket/rank/pick chains. Matches
    sampling.hash_bucket: bucket = first 8 md5 hex digits of
    (salt || id) as an integer; salts '' / '#rank' / '#pick'."""
    return f"""
WITH ids AS (
  SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id IS NOT NULL
), h AS (
  SELECT id,
         CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {b} AS bkt,
         CAST(('0x' || substr(md5('#rank' || CAST(id AS VARCHAR)), 1, 8))
              AS BIGINT) AS rh
  FROM ids
), ranked AS (
  SELECT id, bkt, row_number() OVER (PARTITION BY bkt ORDER BY rh, id) - 1
           AS rnk
  FROM h
), sizes AS (
  SELECT bkt, count(*) AS sz FROM ranked GROUP BY bkt
), offs AS (
  SELECT h.id AS a, (h.bkt + j.j) % {b} AS tb, j.j
  FROM h, (SELECT unnest(generate_series(1, {k})) AS j) j
), pick AS (
  SELECT o.a, o.j, o.tb,
         CAST(('0x' || substr(md5('#pick' || CAST(o.a AS VARCHAR) || '#'
                                  || CAST(o.j AS VARCHAR)), 1, 8))
              AS BIGINT) % s.sz AS r
  FROM offs o JOIN sizes s ON s.bkt = o.tb
)
SELECT p.a AS anchor, CAST(p.j AS INTEGER) AS neg_rank,
       rk.id AS negative
FROM pick p JOIN ranked rk ON rk.bkt = p.tb AND rk.rnk = p.r
WHERE rk.id <> p.a
"""


_SQL_NEGATIVE_SAMPLE = _sql_negative_sample()


def q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cross-correlation at row lags -2..+2
    (operators/timeseries.py ccf) between hourly event count and
    hourly value mass. The grid is made exact BEFORE the operator:
    x = count, y = sum of floor(value*100+0.5) integer units
    (a float sum would be reduction-order dependent and poison the
    certification), then ccf runs at value_scale=1. The final float
    chain (casts, two sqrts, two muls, one divide) is IEEE
    correctly-rounded and mirrored operation-for-operation in the
    oracle."""
    from pyspark.sql import functions as F

    from etl_core_spark.operators.base import get_operator

    ev = _t(spark, sf_dir, "events")
    grid = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("x"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            ).cast("double").alias("y"),
        )
    )
    return get_operator("ccf")(
        key_cols=["user_id"], order_cols=["h"], x_col="x", y_col="y",
        max_lag=2, value_scale=1,
    ).apply({"in": grid})["out"]


def _sql_ccf(max_lag: int = 2) -> str:
    lead_cols = ", ".join(
        f"lead(y,{k}) OVER w AS yl{k}, lead(x,{k}) OVER w AS xl{k}"
        for k in range(1, max_lag + 1)
    )
    lag_aggs = ", ".join(
        f"count(yl{k}) AS np{k}, sum(x*yl{k}) AS sp{k}, "
        f"sum(CASE WHEN yl{k} IS NOT NULL THEN x END) AS hx{k}, "
        f"sum(yl{k}) AS ty{k}, "
        f"sum(y*xl{k}) AS sm{k}, "
        f"sum(CASE WHEN xl{k} IS NOT NULL THEN y END) AS hy{k}, "
        f"sum(xl{k}) AS tx{k}"
        for k in range(1, max_lag + 1)
    )
    branches = ["SELECT user_id, n, sx, sy, dx, dy, 0 AS lag, "
                "n AS np, n*n*sxy0 - n*sx*sy AS num FROM g"]
    for k in range(1, max_lag + 1):
        branches.append(
            f"SELECT user_id, n, sx, sy, dx, dy, {k} AS lag, np{k} AS np, "
            f"n*n*sp{k} - n*sy*hx{k} - n*sx*ty{k} + np{k}*sx*sy AS num "
            "FROM g"
        )
        branches.append(
            f"SELECT user_id, n, sx, sy, dx, dy, -{k} AS lag, np{k} AS np, "
            f"n*n*sm{k} - n*sx*hy{k} - n*sy*tx{k} + np{k}*sx*sy AS num "
            "FROM g"
        )
    u = "\n  UNION ALL ".join(branches)
    return f"""
WITH grid AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         CAST(count(*) AS HUGEINT) AS x,
         CAST(sum(CAST(floor(value*100 + 0.5) AS HUGEINT)) AS HUGEINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id, date_trunc('hour', ts)
), led AS (
  SELECT user_id, x, y, {lead_cols}
  FROM grid WINDOW w AS (PARTITION BY user_id ORDER BY h)
), g AS (
  SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy0,
         CAST(count(*) AS HUGEINT)*sum(x*x) - sum(x)*sum(x) AS dx,
         CAST(count(*) AS HUGEINT)*sum(y*y) - sum(y)*sum(y) AS dy,
         {lag_aggs}
  FROM led GROUP BY user_id
), e AS (
  {u}
)
SELECT user_id, CAST(lag AS INTEGER) AS lag, CAST(np AS BIGINT) AS n_pairs,
       CASE WHEN dx <> 0 AND dy <> 0 THEN
         floor(CAST(num AS DOUBLE)
               / (CAST(n AS DOUBLE) * sqrt(CAST(dx AS DOUBLE))
                  * sqrt(CAST(dy AS DOUBLE))) * 1e9) / 1e9
       END AS ccf
FROM e WHERE np > 0
"""


_SQL_CCF = _sql_ccf()


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (operators/assoc.py
    assoc_rules, Agrawal & Srikant 1994) on order baskets: parts
    co-purchased within an order, A-priori support prune at count 2,
    support/confidence/lift as single double divisions over exact
    integer counts — hash-matched bit-for-bit."""
    from etl_core_spark.operators.base import get_operator

    li = _t(spark, sf_dir, "lineitem")
    return get_operator("assoc_rules")(
        basket_col="l_orderkey", item_col="l_partkey",
        min_support_count=2,
    ).apply({"in": li})["out"]


_SQL_ASSOC_RULES = """
WITH obs AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), nb AS (
  SELECT count(DISTINCT b) AS n FROM obs
), ic AS (
  SELECT i, count(*) AS ci FROM obs GROUP BY i HAVING count(*) >= 2
), pr AS (
  SELECT obs.b, obs.i FROM obs JOIN ic USING (i)
), p AS (
  SELECT x.i AS a, y.i AS c, count(*) AS cab
  FROM pr x JOIN pr y ON x.b = y.b AND x.i < y.i
  GROUP BY x.i, y.i HAVING count(*) >= 2
)
SELECT p.a AS antecedent, p.c AS consequent,
       CAST(p.cab AS BIGINT) AS pair_count,
       CAST(ca.ci AS BIGINT) AS count_a,
       CAST(cb.ci AS BIGINT) AS count_b,
       floor(CAST(p.cab AS DOUBLE) / CAST(nb.n AS DOUBLE) * 1e9) / 1e9
         AS support,
       floor(CAST(p.cab AS DOUBLE) / CAST(ca.ci AS DOUBLE) * 1e9) / 1e9
         AS confidence_ab,
       floor(CAST(p.cab AS DOUBLE) / CAST(cb.ci AS DOUBLE) * 1e9) / 1e9
         AS confidence_ba,
       floor(CAST(p.cab * nb.n AS DOUBLE)
             / CAST(ca.ci * cb.ci AS DOUBLE) * 1e9) / 1e9 AS lift
FROM p JOIN ic ca ON ca.i = p.a JOIN ic cb ON cb.i = p.c, nb
"""


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_q1_pricing_summary(spark, SF_SMOKE)


# Ordering contract: the driver correctness-checks the FIRST 50 registry
# keys each round. Window policy: queries whose operator code changed
# THIS round lead, then rows by ascending certification vintage so no
# row's latest driver check is ever more than two rounds old.
#
# r13 window (50 = 4 + 2 + 44), executing the rotation plan the
# r12 verdict ratified: 4 new rows (audio_fingerprint +
# wav_near_dup_pairs — the audio near-dup composition, verdict item
# 4 — phash_near_dup_clusters, the full perceptual-dedup pipeline
# row, verdict item 5, and gif_frames — multi-frame GIF sampling,
# stretch item 7; net-new cap <= 5 held), then the 2
# rows whose operator code changed this round
# (phash_near_dup_pairs + simhash_near_dup_pairs run the
# balanced-band pigeonhole fix for the ADVICE r12 high finding:
# uniform ceil-width bands could leave trailing bands empty, whose
# NULL conv keys silently dropped qualifying pairs; band i now
# spans i*bits//(k+1)..(i+1)*bits//(k+1)), then the COMPLETE 44-row
# r08-vintage cohort in registry order (joins semi/anti/multi-step,
# set ops, pivot/rollup/cube, type_conversion, percentiles, funnel,
# q18/q19/q22, the ANN family, graph rows). After r13 the staleness
# histogram's oldest bucket is r09 (40 rows), within the <= 4-round
# bound the r12 verdict set. The r14 rotation takes the 40-row r09
# cohort in registry order (top_n_per_group, json_expand,
# attribution_join, zscore_outliers, densify_buckets,
# stratified_sample, ...) plus the oldest r10 rows for the leftover
# slots; its natural first NEW row is animation_near_dup — the
# gif_frames(with_phash=True) → derived (media, frame) key →
# hamming_near_dup_pairs composition built and pytest-certified this
# round (tests/test_gif_codec.py; the shared _ahash_bits kernel is
# hash-certified through image_phash/phash_* rows), held out of
# r13's window so the r08 cohort stays complete under the 50-slot
# budget. Rows consuming changed-but-additive code NOT in the
# window: none — the touched operator files this round are dedup.py
# (both banding consumers in-window), multimodal.py + gif_codec.py
# (audio_fingerprint/gif_frames are purely additive; wav_features /
# image_phash bodies untouched, decode_gif refactored to a lazy
# frame walk with pytest-enforced first-frame parity and its
# gif_decode row re-verified locally at sf0.01 this session) and
# op_schemas.py (two added registry entries).
_R13_WINDOW = [
    # new this round (cap <= 5)
    "audio_fingerprint", "wav_near_dup_pairs", "phash_near_dup_clusters",
    "gif_frames",
    # operator code changed this round (balanced pigeonhole bands)
    "phash_near_dup_pairs", "simhash_near_dup_pairs",
    # r08-vintage cohort, complete (44), registry order
    "ann_numpy", "ann_brute_force", "percentiles", "funnel",
    "q18_large_orders", "q19_disjunctive_filter", "q22_idle_customers",
    "join_multi_step", "join_semi", "join_anti", "set_intersect",
    "set_except", "pivot_event_counts", "unpivot_measures",
    "rollup_orders", "grouping_sets", "cube_lineitem",
    "type_conversion", "cast_temporal", "ann_lsh", "ivf_index_topk",
    "random_projection", "semdedup", "shuffle_rows", "salted_join",
    "export_shards", "gopher_quality", "semdedup_atypical",
    "corpus_overlap", "collocations", "histogram", "rolling_aggregate",
    "scd2_merge", "mad_outliers", "retention_cohorts",
    "markov_transitions", "event_paths", "approx_topk", "bm25_search",
    "interpolate_gaps", "label_propagation", "knn_graph",
    "triangle_count", "graph_components",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        "top_n_per_group": q_top_n_per_group,
        "json_expand": q_json_expand,
        "attribution_join": q_attribution_join,
        "zscore_outliers": q_zscore_outliers,
        "densify_buckets": q_densify_buckets,
        "stratified_sample": q_stratified_sample,
        "cap_per_group": q_cap_per_group,
        "clean_text": q_clean_text,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "lang_id_ngram": q_lang_id_ngram,
        "near_dup_clusters": q_near_dup_clusters,
        "typo_pairs": q_typo_pairs,
        "simhash_near_dup_pairs": q_simhash_near_dup_pairs,
        "ann_numpy": q_ann_numpy,
        "training_pipeline": q_training_pipeline,
        "profile": q_profile,
        "parquet_partitioned": q_parquet_partitioned,
        "excel_roundtrip": q_excel_roundtrip,
        "xml_roundtrip": q_xml_roundtrip,
        "hll_distinct": q_hll_distinct,
        "q12_priority_class": q_q12_priority_class,
        "cosine_near_dup": q_cosine_near_dup,
        "ivf_topk_refined": q_ivf_topk_refined,
        "jaccard_pairs": q_jaccard_pairs,
        "containment_pairs": q_containment_pairs,
        "gaps_islands_per_key": q_gaps_islands_per_key,
        "decontaminate": q_decontaminate,
        "repetition_metrics": q_repetition_metrics,
        "q2_min_cost_supplier": q_q2_min_cost_supplier,
        "q8_market_share": q_q8_market_share,
        "q11_important_parts": q_q11_important_parts,
        "q13_customer_distribution": q_q13_customer_distribution,
        "q15_top_supplier": q_q15_top_supplier,
        "q16_parts_supplier_cnt": q_q16_parts_supplier_cnt,
        "q17_small_qty_revenue": q_q17_small_qty_revenue,
        "q20_heavy_suppliers": q_q20_heavy_suppliers,
        "q21_last_shippers": q_q21_last_shippers,
        "ann_brute_force": q_ann_brute_force,
        "csv_roundtrip": q_csv_roundtrip,
        "dedup_exact": q_dedup_exact,
        "events_json_filter": q_events_json_filter,
        "hash_sample": q_hash_sample,
        "hash_split_counts": q_hash_split_counts,
        "ivf_topk": q_ivf_topk,
        "kmeans_cluster": q_kmeans_cluster,
        "json_roundtrip": q_json_roundtrip,
        "lang_id": q_lang_id,
        "minhash_near_dup_pairs": q_minhash_near_dup_pairs,
        "minhash_signature": q_minhash_signature,
        "interval_join": q_interval_join,
        "tf_idf_top_terms": q_tf_idf_top_terms,
        "quality_filter": q_quality_filter,
        "sessionize": q_sessionize_batch,
        "simhash": q_simhash,
        "text_metrics": q_text_metrics,
        "token_frequency": q_token_frequency,
        "winnow_fingerprint": q_winnow_fingerprint,
        "winnow_near_dup_pairs": q_winnow_near_dup_pairs,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "dedup_minhash": q_dedup_minhash,
        "agg_ops": q_agg_ops,
        "percentiles": q_percentiles,
        "funnel": q_funnel,
        "gaps_islands": q_gaps_islands,
        "q1_pricing_summary": q_q1_pricing_summary,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q5_region_revenue": q_q5_region_revenue,
        "q7_volume_shipping": q_q7_volume_shipping,
        "q9_product_profit": q_q9_product_profit,
        "q10_returned_items": q_q10_returned_items,
        "q4_order_priority": q_q4_order_priority,
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "q14_promo_ratio": q_q14_promo_ratio,
        "q18_large_orders": q_q18_large_orders,
        "q19_disjunctive_filter": q_q19_disjunctive_filter,
        "q22_idle_customers": q_q22_idle_customers,
        "agg_global": q_agg_global,
        "filter_rule_pass": _filter_port("pass"),
        "filter_rule_fail": _filter_port("fail"),
        "join_inner": _join_matrix("inner"),
        "join_left": _join_matrix("left"),
        "join_right": _join_matrix("right"),
        "join_outer": _join_matrix("outer"),
        "join_multi_step": q_join_multi_step,
        "join_semi": _join_semi_anti("semi"),
        "join_anti": _join_semi_anti("anti"),
        "set_intersect": q_set_intersect,
        "set_except": q_set_except,
        "pivot_event_counts": q_pivot,
        "unpivot_measures": q_unpivot,
        "rollup_orders": q_rollup,
        "grouping_sets": q_grouping_sets,
        "cube_lineitem": q_cube,
        "type_conversion": q_type_conversion,
        "cast_temporal": q_cast_temporal,
        "merge_union": q_merge_union,
        "split_aggregate": q_split_aggregate,
        "top_k": q_top_k,
        "window_rank": q_window_rank,
        "window_lead_lag": q_window_lead_lag,
        "window_running_sum": q_window_running_sum,
        "events_hourly": q_events_hourly,
        "events_sliding_window": q_events_sliding_window,
        "mapping_rules": q_mapping_rules,
        "ntile_deciles": q_ntile_deciles,
        "ann_lsh": q_ann_lsh,
        "multimodal_features": q_multimodal_features,
        "png_decode": q_png_decode,
        "incremental_dedup": q_incremental_dedup,
        "ivf_index_topk": q_ivf_index_topk,
        "line_dedup": q_line_dedup,
        "lm_score": q_lm_score,
        "pii_redact": q_pii_redact,
        "mix_corpora": q_mix_corpora,
        "domain_stats": q_domain_stats,
        "orc_roundtrip": q_orc_roundtrip,
        "quantile_filter": q_quantile_filter,
        "strip_duplicate_spans": q_strip_duplicate_spans,
        "substring_dup_spans": q_substring_dup_spans,
        "substring_dedup": q_substring_dedup,
        "assemble_docs": q_assemble_docs,
        "weighted_sample": q_weighted_sample,
        "take_tokens_per_group": q_take_tokens_per_group,
        "text_roundtrip": q_text_roundtrip,
        "binary_ingest": q_binary_ingest,
        "random_projection": q_random_projection,
        "pca_project": q_pca_project,
        "semdedup": q_semdedup,
        "shuffle_rows": q_shuffle_rows,
        "salted_join": q_salted_join,
        "export_shards": q_export_shards,
        "gopher_quality": q_gopher_quality,
        "semdedup_atypical": q_semdedup_atypical,
        "agg_extended": q_agg_extended,
        "corpus_overlap": q_corpus_overlap,
        "collocations": q_collocations,
        "histogram": q_histogram,
        "rolling_aggregate": q_rolling_aggregate,
        "ewma": q_ewma,
        "diff_datasets": q_diff_datasets,
        "scd2_merge": q_scd2_merge,
        "cdc_apply": q_cdc_apply,
        "bloom_decontaminate": q_bloom_decontaminate,
        "zorder_key": q_zorder_key,
        "streaming_sessionize": q_streaming_sessionize,
        "winsorize": q_winsorize,
        "k_core": q_k_core,
        "mmr_rerank": q_mmr_rerank,
        "hll_distinct_exact": q_hll_distinct_exact,
        "streaming_dedup": q_streaming_dedup,
        "k_anonymize": q_k_anonymize,
        "pca_project_fixed": q_pca_project_fixed,
        "l_diversity": q_l_diversity,
        "holt_linear": q_holt_linear,
        "cusum": q_cusum,
        "holt_winters": q_holt_winters,
        "theil_sen": q_theil_sen,
        "benford_deviation": q_benford_deviation,
        "record_linkage": q_record_linkage,
        "snm_linkage": q_snm_linkage,
        "psi_drift": q_psi_drift,
        "ols_trend": q_ols_trend,
        "prop_ztest": q_prop_ztest,
        "systematic_sample": q_systematic_sample,
        "kaplan_meier": q_kaplan_meier,
        "mannwhitney_u": q_mannwhitney_u,
        "streaming_psi": q_streaming_psi,
        "welch_ttest": q_welch_ttest,
        "chi2_independence": q_chi2_independence,
        "seasonal_decompose": q_seasonal_decompose,
        "acf": q_acf,
        "ccf": q_ccf,
        "negative_sample": q_negative_sample,
        "feature_hash": q_feature_hash,
        "image_phash": q_image_phash,
        "phash_near_dup_pairs": q_phash_near_dup_pairs,
        "phash_near_dup_clusters": q_phash_near_dup_clusters,
        "gif_frames": q_gif_frames,
        "audio_fingerprint": q_audio_fingerprint,
        "wav_near_dup_pairs": q_wav_near_dup_pairs,
        "wav_features": q_wav_features,
        "bmp_decode": q_bmp_decode,
        "gif_decode": q_gif_decode,
        "assoc_rules": q_assoc_rules,
        "streaming_attribution": q_streaming_attribution,
        "streaming_hourly": q_streaming_hourly,
        "mad_outliers": q_mad_outliers,
        "retention_cohorts": q_retention_cohorts,
        "markov_transitions": q_markov_transitions,
        "event_paths": q_event_paths,
        "approx_topk": q_approx_topk,
        "streaming_topk": q_streaming_topk,
        "bm25_search": q_bm25_search,
        "dsir_weights": q_dsir_weights,
        "dsir_select": q_dsir_select,
        "quality_classifier": q_quality_classifier,
        "quality_gate": q_quality_gate,
        "pq_topk": q_pq_topk,
        "bpe_tokenize": q_bpe_tokenize,
        "bpe_encode_fixed": q_bpe_encode_fixed,
        "entropy_metrics": q_entropy_metrics,
        "temporal_join": q_temporal_join,
        "corpus_divergence": q_corpus_divergence,
        "ks_drift": q_ks_drift,
        "interpolate_gaps": q_interpolate_gaps,
        "pagerank": q_pagerank,
        "label_propagation": q_label_propagation,
        "louvain": q_louvain,
        "louvain_multilevel": q_louvain_multilevel,
        "dbscan": q_dbscan,
        "modularity": q_modularity,
        "knn_graph": q_knn_graph,
        "triangle_count": q_triangle_count,
        "personalized_pagerank": q_personalized_pagerank,
        "ppr_directed": q_ppr_directed,
        "bfs_distances": q_bfs_distances,
        "pagerank_weighted": q_pagerank_weighted,
        "graph_components": q_graph_components,
        "link_predict": q_link_predict,
    }
    assert len(_R13_WINDOW) == 50 and set(_R13_WINDOW) <= set(base)
    return {
        **{k: base[k] for k in _R13_WINDOW},
        **{k: v for k, v in base.items() if k not in set(_R13_WINDOW)},
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": _SQL_Q1,
        "q3_shipping_priority": _SQL_Q3,
        "q5_region_revenue": _SQL_Q5,
        "q7_volume_shipping": _SQL_Q7,
        "q9_product_profit": _SQL_Q9,
        "q10_returned_items": _SQL_Q10,
        "q4_order_priority": _SQL_Q4,
        "q6_forecast_revenue": _SQL_Q6,
        "q12_priority_class": _SQL_Q12,
        "q2_min_cost_supplier": _SQL_Q2,
        "q8_market_share": _SQL_Q8,
        "q11_important_parts": _SQL_Q11,
        "q13_customer_distribution": _SQL_Q13,
        "q15_top_supplier": _SQL_Q15,
        "q16_parts_supplier_cnt": _SQL_Q16,
        "q17_small_qty_revenue": _SQL_Q17,
        "q20_heavy_suppliers": _SQL_Q20,
        "q21_last_shippers": _SQL_Q21,
        "q14_promo_ratio": _SQL_Q14,
        "q18_large_orders": _SQL_Q18,
        "q19_disjunctive_filter": _SQL_Q19,
        "q22_idle_customers": _SQL_Q22,
        "agg_ops": _SQL_AGG_OPS,
        "agg_global": _SQL_AGG_GLOBAL,
        "percentiles": _SQL_PERCENTILES,
        "filter_rule_pass": _filter_sql(negate=False),
        "filter_rule_fail": _filter_sql(negate=True),
        "join_inner": _join_matrix_sql("inner"),
        "join_left": _join_matrix_sql("left"),
        "join_right": _join_matrix_sql("right"),
        "join_outer": _join_matrix_sql("outer"),
        "join_multi_step": _SQL_JOIN_MULTI,
        "join_semi": _join_semi_anti_sql("semi"),
        "join_anti": _join_semi_anti_sql("anti"),
        "set_intersect": _SQL_SET_INTERSECT,
        "set_except": _SQL_SET_EXCEPT,
        "pivot_event_counts": _SQL_PIVOT,
        "unpivot_measures": _SQL_UNPIVOT,
        "rollup_orders": _SQL_ROLLUP,
        "grouping_sets": _SQL_GROUPING_SETS,
        "cube_lineitem": _SQL_CUBE,
        "dedup_minhash": _SQL_DEDUP_MINHASH,
        "type_conversion": _SQL_TYPE_CONVERSION,
        "cast_temporal": _SQL_CAST_TEMPORAL,
        "merge_union": _SQL_MERGE_UNION,
        "split_aggregate": _SQL_SPLIT_AGG,
        "top_k": _SQL_TOP_K,
        "window_rank": _SQL_WINDOW_RANK,
        "window_lead_lag": _SQL_WINDOW_LEAD_LAG,
        "window_running_sum": _SQL_WINDOW_RUNNING,
        "events_hourly": _SQL_EVENTS_HOURLY,
        "events_sliding_window": _SQL_EVENTS_SLIDING,
        "mapping_rules": _SQL_MAPPING_RULES,
        "asof_join": _SQL_ASOF,
        "range_join": _SQL_RANGE_JOIN,
        "interval_join": _SQL_INTERVAL_JOIN,
        "funnel": _SQL_FUNNEL,
        "ntile_deciles": _SQL_NTILE,
        "gaps_islands": _SQL_GAPS_ISLANDS,
        "gaps_islands_per_key": _SQL_GAPS_ISLANDS_PER_KEY,
        "decontaminate": _SQL_DECONTAMINATE,
        "repetition_metrics": _SQL_REPETITION,
        "top_n_per_group": _SQL_TOP_N_PER_GROUP,
        "events_json_filter": _SQL_EVENTS_JSON,
        "json_expand": _SQL_JSON_EXPAND,
        "sessionize": _SQL_SESSIONIZE,
        "attribution_join": _SQL_ATTRIBUTION_JOIN,
        "zscore_outliers": _SQL_ZSCORE,
        "densify_buckets": _SQL_DENSIFY,
        "hash_sample": _SQL_HASH_SAMPLE,
        "stratified_sample": _SQL_STRATIFIED_SAMPLE,
        "cap_per_group": _SQL_CAP_PER_GROUP,
        "hash_split_counts": _SQL_HASH_SPLIT,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "text_metrics": _SQL_TEXT_METRICS,
        "clean_text": _SQL_CLEAN_TEXT,
        "chunk_documents": _SQL_CHUNK_DOCS,
        "pack_sequences": _SQL_PACK_SEQUENCES,
        "lang_id": _lang_id_sql(),
        "lang_id_ngram": _lang_id_ngram_sql(),
        "minhash_signature": _SQL_MINHASH_SIG,
        "minhash_near_dup_pairs": _SQL_MINHASH_PAIRS,
        "jaccard_pairs": _SQL_JACCARD_PAIRS,
        "containment_pairs": _SQL_CONTAINMENT_PAIRS,
        "near_dup_clusters": _SQL_NEAR_DUP_CLUSTERS,
        "typo_pairs": _SQL_TYPO_PAIRS,
        "simhash": _SQL_SIMHASH,
        "simhash_near_dup_pairs": _SQL_SIMHASH_PAIRS,
        "ann_brute_force": _SQL_ANN_BRUTE,
        "ann_numpy": _SQL_ANN_BRUTE,
        "ivf_topk": _SQL_IVF_TOPK,
        "kmeans_cluster": _SQL_KMEANS_CLUSTER,
        "token_frequency": _SQL_TOKEN_FREQ,
        "quality_filter": _SQL_QUALITY_FILTER,
        "training_pipeline": _SQL_TRAINING_PIPELINE,
        "profile": _SQL_PROFILE,
        "parquet_partitioned": _SQL_PARQUET_PARTITIONED,
        "csv_roundtrip": _SQL_NATION_ROUNDTRIP,
        "excel_roundtrip": _SQL_NATION_ROUNDTRIP,
        "xml_roundtrip": _SQL_NATION_ROUNDTRIP,
        "json_roundtrip": _SQL_JSON_ROUNDTRIP,
        "winnow_fingerprint": _SQL_WINNOW,
        "winnow_near_dup_pairs": _SQL_WINNOW_PAIRS,
        "tf_idf_top_terms": _SQL_TF_IDF,
        "cosine_near_dup": _SQL_COSINE_NEAR_DUP,
        # r7: both former rows-only entries converted — the LSH planes
        # are literal floats the oracle embeds; the multimodal payload
        # is ASCII-safe so DuckDB's VARCHAR sha256 recomputes it.
        "ann_lsh": _sql_ann_lsh(),
        "multimodal_features": _SQL_MULTIMODAL,
        "png_decode": _SQL_PNG_DECODE,
        "incremental_dedup": _sql_incremental_dedup(),
        # the persisted-index path must return exactly what the direct
        # IVF path returns -> the same oracle certifies both
        "ivf_index_topk": _SQL_IVF_TOPK,
        "line_dedup": _SQL_LINE_DEDUP,
        "lm_score": _SQL_LM_SCORE,
        "pii_redact": _sql_pii_redact(),
        "mix_corpora": _sql_mix_corpora(),
        "domain_stats": _sql_domain_stats(),
        "orc_roundtrip": _SQL_ORC_ROUNDTRIP,
        "text_roundtrip": _SQL_TEXT_ROUNDTRIP,
        "binary_ingest": _SQL_BINARY_INGEST,
        "random_projection": _sql_random_projection(),
        "semdedup": _SQL_SEMDEDUP,
        "shuffle_rows": _SQL_SHUFFLE_ROWS,
        "salted_join": _SQL_SALTED_JOIN,
        "export_shards": _SQL_EXPORT_SHARDS,
        "gopher_quality": _SQL_GOPHER,
        "semdedup_atypical": _SQL_SEMDEDUP_ATYPICAL,
        "agg_extended": _SQL_AGG_EXTENDED,
        "corpus_overlap": _sql_corpus_overlap(),
        "collocations": _SQL_COLLOCATIONS,
        "histogram": _SQL_HISTOGRAM,
        "rolling_aggregate": _SQL_ROLLING,
        "ewma": _SQL_EWMA,
        "diff_datasets": _SQL_DIFF_DATASETS,
        "scd2_merge": _SQL_SCD2_MERGE,
        "cdc_apply": _SQL_CDC_APPLY,
        "bloom_decontaminate": _SQL_BLOOM_DECONTAMINATE,
        "zorder_key": _SQL_ZORDER_KEY,
        "streaming_sessionize": _SQL_STREAMING_SESSIONIZE,
        "winsorize": _SQL_WINSORIZE,
        "k_core": _SQL_K_CORE,
        "mmr_rerank": _SQL_MMR_RERANK,
        "hll_distinct_exact": _SQL_HLL_DISTINCT_EXACT,
        "streaming_dedup": _SQL_STREAMING_DEDUP,
        "k_anonymize": _SQL_K_ANONYMIZE,
        "pca_project_fixed": _SQL_PCA_PROJECT_FIXED,
        "l_diversity": _SQL_L_DIVERSITY,
        "holt_linear": _SQL_HOLT_LINEAR,
        "cusum": _SQL_CUSUM,
        "holt_winters": _SQL_HOLT_WINTERS,
        "theil_sen": _SQL_THEIL_SEN,
        "benford_deviation": _benford_sql(),
        "record_linkage": _record_linkage_sql(),
        "snm_linkage": _snm_sql(),
        "psi_drift": _psi_sql(),
        "ols_trend": _ols_sql(),
        "prop_ztest": _prop_ztest_sql(),
        "systematic_sample": _SQL_SYSTEMATIC_SAMPLE,
        "kaplan_meier": _SQL_KAPLAN_MEIER,
        "mannwhitney_u": _mwu_sql(),
        "streaming_psi": _streaming_psi_sql(),
        "welch_ttest": _welch_sql(),
        "chi2_independence": _chi2_sql(),
        "seasonal_decompose": _SQL_SEASONAL_DECOMPOSE,
        "acf": _SQL_ACF,
        "ccf": _SQL_CCF,
        "negative_sample": _SQL_NEGATIVE_SAMPLE,
        "feature_hash": _SQL_FEATURE_HASH,
        "image_phash": _SQL_IMAGE_PHASH,
        "phash_near_dup_pairs": _SQL_PHASH_NEAR_DUP,
        "phash_near_dup_clusters": _SQL_PHASH_CLUSTERS,
        "gif_frames": _SQL_GIF_FRAMES,
        "audio_fingerprint": _SQL_AUDIO_FP,
        "wav_near_dup_pairs": _SQL_WAV_NEAR_DUP,
        "wav_features": _SQL_WAV_FEATURES,
        "bmp_decode": _SQL_PNG_DECODE,
        "gif_decode": _SQL_GIF_DECODE,
        "assoc_rules": _SQL_ASSOC_RULES,
        "streaming_attribution": _SQL_STREAMING_ATTRIBUTION,
        "streaming_hourly": _SQL_STREAMING_HOURLY,
        "mad_outliers": _SQL_MAD_OUTLIERS,
        "retention_cohorts": _SQL_RETENTION_COHORTS,
        "markov_transitions": _SQL_MARKOV_TRANSITIONS,
        "event_paths": _SQL_EVENT_PATHS,
        "approx_topk": _SQL_APPROX_TOPK,
        # the stream must reproduce the certified batch answer exactly
        "streaming_topk": _SQL_APPROX_TOPK,
        "bm25_search": _SQL_BM25,
        "dsir_weights": _SQL_DSIR_WEIGHTS,
        "dsir_select": _SQL_DSIR_SELECT,
        "entropy_metrics": _SQL_ENTROPY_METRICS,
        "temporal_join": _SQL_TEMPORAL_JOIN,
        "corpus_divergence": _SQL_CORPUS_DIVERGENCE,
        "ks_drift": _SQL_KS_DRIFT,
        "quality_classifier": _SQL_QUALITY_CLASSIFIER,
        "quality_gate": _SQL_QUALITY_GATE,
        "interpolate_gaps": _SQL_INTERPOLATE,
        "pagerank": _SQL_PAGERANK,
        "label_propagation": _SQL_LABEL_PROPAGATION,
        "louvain": _SQL_LOUVAIN,
        "louvain_multilevel": _SQL_LOUVAIN_MULTILEVEL,
        "dbscan": _SQL_DBSCAN,
        "modularity": _SQL_MODULARITY,
        "knn_graph": _SQL_KNN_GRAPH,
        "triangle_count": _SQL_TRIANGLE_COUNT,
        "personalized_pagerank": _SQL_PERSONALIZED_PAGERANK,
        "ppr_directed": _SQL_PPR_DIRECTED,
        "bfs_distances": _SQL_BFS_DISTANCES,
        "pagerank_weighted": _SQL_PAGERANK_WEIGHTED,
        "graph_components": _SQL_GRAPH_COMPONENTS,
        "link_predict": _SQL_LINK_PREDICT,
        "quantile_filter": _SQL_QUANTILE_FILTER,
        "strip_duplicate_spans": _SQL_STRIP_SPANS,
        "substring_dup_spans": _SQL_SUBSTR_SPANS,
        "substring_dedup": _SQL_SUBSTR_DEDUP,
        "bpe_encode_fixed": _SQL_BPE_ENCODE_FIXED,
        "assemble_docs": _SQL_ASSEMBLE_DOCS,
        "weighted_sample": _SQL_WEIGHTED_SAMPLE,
        "take_tokens_per_group": _SQL_TAKE_TOKENS,
    }
