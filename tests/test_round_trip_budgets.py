"""Py4J round-trip budgets for plan builds shaped like the benchmark's
jobs, and the session default that keeps PySpark's per-Column
call-site capture off on every thread.

Each Py4J call is a blocking driver-to-JVM round trip, and a warm
build is mostly those. Unlike wall time the count does not drift with
host load: a change that adds calls to the build fails here, one that
removes calls lowers the budget. Object-release messages are not
counted (see the ``py4j_round_trips`` fixture)."""

import sys
import threading

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Py4J round trips of one warm build of ``_batch_etl_job``
BATCH_ETL_BUILD_ROUND_TRIPS = 416
#: Py4J round trips of one warm build of ``_small_validate_job``
SMALL_VALIDATE_BUILD_ROUND_TRIPS = 260


def _read(name, comp_type, path, to, in_port="in"):
    return {
        "name": name,
        "comp_type": comp_type,
        "filepath": str(path),
        "routes": {"out": [{"to": to, "in_port": in_port}]},
    }


def _sink(name, comp_type, out_dir):
    return {"name": name, "comp_type": comp_type, "filepath": str(out_dir / name)}


def _batch_etl_job(tmp_path):
    """Three sources (two parquet, one all-text CSV), a rule-tree
    filter with a list value, a raise/null type_conversion, a two-step
    join, a five-aggregate group-by and a split into two sinks."""
    lineitem, orders, customers = (
        tmp_path / "lineitem.parquet", tmp_path / "orders.parquet", tmp_path / "customers.csv"
    )
    pq.write_table(pa.table({
        "l_orderkey": [1, 1, 2, 3],
        "l_quantity": [5.0, 17.0, 2.0, 30.0],
        "l_extendedprice": [100.5, 200.0, 30.25, 999.0],
        "l_discount": [0.02, 0.05, 0.01, 0.07],
        "l_returnflag": ["A", "N", "R", "N"],
        "l_shipmode": ["AIR", "MAIL", "TRUCK", "REG AIR"],
        "l_comment": ["quickly", "special deposits", "bold", "ideas"],
    }), lineitem)
    pq.write_table(pa.table({
        "o_orderkey": [1, 2, 3],
        "o_custkey": [10, 20, 10],
        "o_orderpriority": ["1-URGENT", "2-HIGH", "1-URGENT"],
    }), orders)
    pacsv.write_csv(pa.table({
        "c_custkey": ["10", "20"],
        "c_mktsegment": ["BUILDING", "MACHINERY"],
        "c_acctbal": ["12.50", "n/a"],
    }), customers)
    rule = {
        "operator": "AND",
        "rules": [
            {"column": "l_quantity", "operator": ">=", "value": 5},
            {
                "operator": "OR",
                "rules": [
                    {"column": "l_shipmode", "operator": "==", "value": ["AIR", "REG AIR", "TRUCK"]},
                    {"column": "l_discount", "operator": "<", "value": 0.04},
                ],
            },
            {"operator": "NOT", "rules": [{"column": "l_comment", "operator": "contains", "value": "special"}]},
        ],
    }
    return {
        "name": "batch_etl_shaped",
        "components": [
            _read("read_lineitem", "read_parquet", lineitem, "keep"),
            _read("read_orders", "read_parquet", orders, "mapper", "orders"),
            _read("read_customers", "read_csv", customers, "casts"),
            {
                "name": "keep",
                "comp_type": "filter",
                "rule": rule,
                "routes": {"pass": [{"to": "mapper", "in_port": "lines"}]},
            },
            {
                "name": "casts",
                "comp_type": "type_conversion",
                "rules": [
                    {"column_path": "c_custkey", "target": "integer", "on_error": "raise"},
                    {"column_path": "c_acctbal", "target": "float", "on_error": "null"},
                ],
                "routes": {"out": [{"to": "mapper", "in_port": "customers"}]},
            },
            {
                "name": "mapper",
                "comp_type": "schema_mapping",
                "join_plan": {
                    "steps": [
                        {
                            "left_port": "lines", "right_port": "orders",
                            "left_on": "l_orderkey", "right_on": "o_orderkey",
                            "how": "inner", "output_port": "lo",
                        },
                        {
                            "left_port": "lo", "right_port": "customers",
                            "left_on": "o_custkey", "right_on": "c_custkey",
                            "how": "inner", "output_port": "joined",
                        },
                    ]
                },
                "routes": {"joined": [{"to": "agg", "in_port": "in"}]},
            },
            {
                "name": "agg",
                "comp_type": "aggregation",
                "group_by": ["c_mktsegment", "o_orderpriority", "l_returnflag"],
                "aggregations": [
                    {"src": "*", "op": "count", "dest": "n"},
                    {"src": "l_extendedprice", "op": "sum", "dest": "revenue"},
                    {"src": "l_quantity", "op": "sum", "dest": "qty"},
                    {"src": "l_discount", "op": "mean", "dest": "avg_disc"},
                    {"src": "c_acctbal", "op": "max", "dest": "max_bal"},
                ],
                "routes": {"out": [{"to": "fan", "in_port": "in"}]},
            },
            {
                "name": "fan",
                "comp_type": "split",
                "branches": ["a", "b"],
                "routes": {
                    "a": [{"to": "sink_parquet", "in_port": "in"}],
                    "b": [{"to": "sink_json", "in_port": "in"}],
                },
            },
            _sink("sink_parquet", "write_parquet", tmp_path),
            _sink("sink_json", "write_json", tmp_path),
        ],
    }


def _small_validate_job(tmp_path):
    """A text CSV through integer and boolean casts, split into a copy
    and a non-strict validate."""
    raw = tmp_path / "raw.csv"
    pacsv.write_csv(pa.table({
        "id": pa.array(["r0", None, "r2", "r3"], type=pa.string()),
        "qty": ["7", "lots", "12", "0"],
        "active": ["yes", "0", "maybe", "true"],
    }), raw)
    return {
        "name": "small_validate_shaped",
        "components": [
            _read("read_raw", "read_csv", raw, "casts"),
            {
                "name": "casts",
                "comp_type": "type_conversion",
                "rules": [
                    {"column_path": "qty", "target": "integer", "on_error": "null"},
                    {"column_path": "active", "target": "boolean", "on_error": "null"},
                ],
                "routes": {"out": [{"to": "dup", "in_port": "in"}]},
            },
            {
                "name": "dup",
                "comp_type": "split",
                "branches": ["to_check", "copy"],
                "routes": {
                    "to_check": [{"to": "checker", "in_port": "in"}],
                    "copy": [{"to": "sink_copy", "in_port": "in"}],
                },
            },
            {
                "name": "checker",
                "comp_type": "validate",
                "strict": False,
                "schema": {
                    "fields": [
                        {"name": "id", "data_type": "string", "nullable": False},
                        {"name": "qty", "data_type": "integer"},
                        {"name": "active", "data_type": "boolean"},
                    ]
                },
                "routes": {"valid": [{"to": "sink_valid", "in_port": "in"}]},
            },
            _sink("sink_valid", "write_json", tmp_path),
            _sink("sink_copy", "write_json", tmp_path),
        ],
    }


def _warm_build_counts(spark, job, py4j_round_trips):
    from etl_core_spark.plans.builder import build_job
    from etl_core_spark.plans.runner import run_job

    for _ in range(2):  # cold: schema inference, first-use lookups
        result = run_job(spark, job)
        assert result.status == "SUCCESS", result.error
    counts = []
    for _ in range(2):
        with py4j_round_trips() as calls:
            build_job(spark, job)
        counts.append(calls.n)
    return counts, result


def test_batch_etl_shaped_warm_build_round_trip_budget(spark, tmp_path, py4j_round_trips):
    counts, result = _warm_build_counts(spark, _batch_etl_job(tmp_path), py4j_round_trips)
    # lines 1 and 4 pass the filter; both orders join customer 10,
    # whose "12.50" balance converts
    assert result.metrics["keep"]["lines_forwarded"] == 2
    assert result.metrics["sink_parquet"] == {"lines_received": 2}
    assert counts[0] == counts[1], counts
    assert counts[0] <= BATCH_ETL_BUILD_ROUND_TRIPS, counts


def test_small_validate_shaped_warm_build_round_trip_budget(spark, tmp_path, py4j_round_trips):
    counts, result = _warm_build_counts(spark, _small_validate_job(tmp_path), py4j_round_trips)
    assert result.metrics["sink_copy"] == {"lines_received": 4}
    assert result.metrics["sink_valid"] == {"lines_received": 3}  # the NULL id fails
    assert counts[0] == counts[1], counts
    assert counts[0] <= SMALL_VALIDATE_BUILD_ROUND_TRIPS, counts


def test_dataframe_debugging_is_off_on_every_thread(spark, tmp_path):
    """PySpark caches its DataFrame-debugging flag per process, from
    the session active on the thread that first builds a Column. The
    session default turns it off, so a build on the main thread (CLI,
    scheduler) captures no call sites, like one on a thread without an
    active session (API handlers), and the capture's IPython import
    never happens."""
    import pyspark.errors.utils as errors_utils

    from etl_core_spark.plans.runner import run_job

    job = _small_validate_job(tmp_path)
    errors_utils._enable_debugging_cache = None  # as in a fresh process
    assert run_job(spark, job).status == "SUCCESS"
    assert errors_utils.is_debugging_enabled() is False

    results = []
    worker = threading.Thread(target=lambda: results.append(run_job(spark, job)))
    worker.start()
    worker.join(timeout=300)
    assert results and results[0].status == "SUCCESS", results
    assert errors_utils.is_debugging_enabled() is False
    assert "IPython" not in sys.modules
