"""Job configs the workloads submit, as the JSON documents a user
would POST. ``inp`` maps input names to files, ``out`` is the
directory sinks write under."""

from __future__ import annotations

import os


def _read(name: str, comp_type: str, path: str, to: str, in_port: str = "in") -> dict:
    return {
        "name": name,
        "comp_type": comp_type,
        "filepath": path,
        "routes": {"out": [{"to": to, "in_port": in_port}]},
    }


def _sink(name: str, comp_type: str, out: str) -> dict:
    return {"name": name, "comp_type": comp_type, "filepath": os.path.join(out, name)}


# lineitem rows kept by the batch filter: a rule tree over three columns
BATCH_RULE = {
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


def batch_etl(inp: dict, out: str) -> dict:
    return {
        "name": "batch_etl",
        "components": [
            _read("read_lineitem", "read_parquet", inp["lineitem"], "keep"),
            _read("read_orders", "read_parquet", inp["orders"], "mapper", "orders"),
            _read("read_customers", "read_csv", inp["customers"], "casts"),
            {
                "name": "keep",
                "comp_type": "filter",
                "rule": BATCH_RULE,
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
            _sink("sink_parquet", "write_parquet", out),
            _sink("sink_json", "write_json", out),
        ],
    }


SMALL_RULE = {
    "operator": "AND",
    "rules": [
        {"column": "status", "operator": "==", "value": "open"},
        {"operator": "NOT", "rules": [{"column": "note", "operator": "contains", "value": "special"}]},
    ],
}

RAW_SCHEMA = {
    "fields": [
        {"name": "id", "data_type": "string", "nullable": False},
        {"name": "qty", "data_type": "integer"},
        {"name": "active", "data_type": "boolean"},
    ]
}


def small_filter(inp: dict, out: str) -> dict:
    return {
        "name": "small_filter",
        "components": [
            _read("read_tickets", "read_csv", inp["tickets"], "only_open"),
            {
                "name": "only_open",
                "comp_type": "filter",
                "rule": SMALL_RULE,
                "routes": {
                    "pass": [{"to": "sink_pass", "in_port": "in"}],
                    "fail": [{"to": "sink_fail", "in_port": "in"}],
                },
            },
            _sink("sink_pass", "write_csv", out),
            _sink("sink_fail", "write_csv", out),
        ],
    }


def small_agg(inp: dict, out: str) -> dict:
    return {
        "name": "small_agg",
        "components": [
            _read("read_events", "read_json", inp["events"], "agg"),
            {
                "name": "agg",
                "comp_type": "aggregation",
                "group_by": ["kind"],
                "aggregations": [
                    {"src": "*", "op": "count", "dest": "n"},
                    {"src": "amount", "op": "sum", "dest": "total"},
                    {"src": "user", "op": "nunique", "dest": "n_users"},
                ],
                "routes": {"out": [{"to": "sink_agg", "in_port": "in"}]},
            },
            _sink("sink_agg", "write_json", out),
        ],
    }


def small_join(inp: dict, out: str) -> dict:
    return {
        "name": "small_join",
        "components": [
            _read("read_left", "read_parquet", inp["left"], "mapper", "left"),
            _read("read_right", "read_parquet", inp["right"], "mapper", "right"),
            {
                "name": "mapper",
                "comp_type": "schema_mapping",
                "join_plan": {
                    "steps": [
                        {
                            "left_port": "left", "right_port": "right",
                            "left_on": "id", "right_on": "id",
                            "how": "inner", "output_port": "joined",
                        }
                    ]
                },
                "routes": {"joined": [{"to": "sink_joined", "in_port": "in"}]},
            },
            _sink("sink_joined", "write_parquet", out),
        ],
    }


def small_validate(inp: dict, out: str) -> dict:
    return {
        "name": "small_validate",
        "components": [
            _read("read_raw", "read_csv", inp["raw"], "casts"),
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
                "schema": RAW_SCHEMA,
                "routes": {"valid": [{"to": "sink_valid", "in_port": "in"}]},
            },
            _sink("sink_valid", "write_json", out),
            _sink("sink_copy", "write_json", out),
        ],
    }


SMALL_JOBS = (small_filter, small_agg, small_join, small_validate)

PAGERANK_ITERATIONS = 4


def graph_pagerank(inp: dict, out: str) -> dict:
    return {
        "name": "graph_pagerank",
        "components": [
            _read("read_edges", "read_parquet", inp["edges"], "rank"),
            {
                "name": "rank",
                "comp_type": "pagerank",
                "src": "src",
                "dst": "dst",
                "undirected": False,
                "iterations": PAGERANK_ITERATIONS,
                "routes": {"out": [{"to": "sink_ranks", "in_port": "in"}]},
            },
            _sink("sink_ranks", "write_parquet", out),
        ],
    }
