"""Correctness oracle: DuckDB over the same generated inputs.

Two checks per job. Every execution's record must be SUCCESS with
each sink's ``lines_received`` equal to DuckDB's row count; and the
files the last execution wrote must hold exactly DuckDB's rows
(multiset equality, floats within a relative tolerance where Spark and
DuckDB sum in different orders).
"""

from __future__ import annotations

import math
import os

import duckdb

REL_TOL = 1e-9

_BOOL_SQL = (
    "CASE WHEN lower(trim({c})) IN ('true','t','1','yes','y') THEN true "
    "WHEN lower(trim({c})) IN ('false','f','0','no','n') THEN false END"
)


def _csv(path: str) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true)"


def _parquet(path: str) -> str:
    return f"read_parquet('{path}')"


def expected_sql(job: str, inp: dict) -> dict[str, str]:
    """Sink name -> DuckDB query for the rows that sink must hold."""
    if job == "batch_etl":
        return {
            sink: f"""
            WITH li AS (
              SELECT * FROM {_parquet(inp['lineitem'])}
              WHERE l_quantity >= 5
                AND (l_shipmode IN ('AIR', 'REG AIR', 'TRUCK') OR l_discount < 0.04::DOUBLE)
                AND NOT contains(lower(l_comment), 'special')),
            c AS (
              SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment,
                     TRY_CAST(c_acctbal AS DOUBLE) AS c_acctbal
              FROM {_csv(inp['customers'])})
            SELECT c_mktsegment, o_orderpriority, l_returnflag, count(*) AS n,
                   sum(l_extendedprice) AS revenue, sum(l_quantity) AS qty,
                   avg(l_discount) AS avg_disc, max(c_acctbal) AS max_bal
            FROM li JOIN {_parquet(inp['orders'])} ON l_orderkey = o_orderkey
                    JOIN c ON o_custkey = c_custkey
            GROUP BY ALL"""
            for sink in ("sink_parquet", "sink_json")
        }
    if job == "small_filter":
        cond = "(status = 'open' AND NOT contains(lower(note), 'special'))"
        src = _csv(inp["tickets"])
        return {
            "sink_pass": f"SELECT * FROM {src} WHERE {cond}",
            "sink_fail": f"SELECT * FROM {src} WHERE NOT coalesce({cond}, false)",
        }
    if job == "small_agg":
        return {
            "sink_agg": f"""SELECT kind, count(*) AS n, sum(amount) AS total,
                            count(DISTINCT "user") AS n_users
                            FROM read_json('{inp['events']}') GROUP BY kind"""
        }
    if job == "small_join":
        return {
            "sink_joined": f"""SELECT l.id, region, score, tier
                               FROM {_parquet(inp['left'])} l
                               JOIN {_parquet(inp['right'])} r ON l.id = r.id"""
        }
    if job == "small_validate":
        converted = (
            f"SELECT id, TRY_CAST(qty AS BIGINT) AS qty, "
            f"{_BOOL_SQL.format(c='active')} AS active FROM {_csv(inp['raw'])}"
        )
        return {
            "sink_copy": converted,
            "sink_valid": f"SELECT * FROM ({converted}) WHERE id IS NOT NULL",
        }
    raise KeyError(job)


def _output_sql(path: str, columns: list[str]) -> str:
    files = sorted(os.listdir(path))
    cols = ", ".join(f'"{c}"' for c in columns)
    if any(f.endswith(".parquet") for f in files):
        src = f"read_parquet('{path}/*.parquet')"
    elif any(f.endswith(".json") for f in files):
        src = f"read_json('{path}/*.json', format='newline_delimited')"
    else:
        src = _csv(f"{path}/*.csv")
    return f"SELECT {cols} FROM {src}"


def _sort_key(row: tuple) -> tuple:
    # floats to 9 significant digits, so the two sides' last-digit
    # differences do not reorder rows; (flag, value) pairs keep None
    # and values of different types comparable
    return tuple(
        (0, "") if v is None
        else (1, float(f"{v:.9g}")) if isinstance(v, float)
        else (2, str(v))
        for v in row
    )


def compare_rows(expected: list[tuple], actual: list[tuple], rel_tol: float = REL_TOL) -> list[str]:
    """Multiset comparison; floats match within ``rel_tol``. Returns
    one message per mismatching row, at most five (empty = equal)."""
    exp = sorted(expected, key=_sort_key)
    act = sorted(actual, key=_sort_key)
    if len(exp) != len(act):
        return [f"row count: expected {len(exp)}, got {len(act)}"]
    problems = []
    for e_row, a_row in zip(exp, act):
        for e, a in zip(e_row, a_row):
            if isinstance(e, float) or isinstance(a, float):
                if e is None or a is None or not math.isclose(float(e), float(a), rel_tol=rel_tol, abs_tol=1e-12):
                    problems.append(f"value: expected {e_row}, got {a_row}")
                    break
            elif e != a:
                problems.append(f"value: expected {e_row}, got {a_row}")
                break
        if len(problems) >= 5:
            break
    return problems


class Oracle:
    """Expected counts and rows per (job, sink), from DuckDB."""

    def __init__(self, work_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb_tmp')}'")
        self.con.execute("SET threads=2")
        self._expected: dict[tuple[str, str], tuple[list[str], list[tuple]]] = {}

    def load(self, job: str, inp: dict) -> None:
        for sink, sql in expected_sql(job, inp).items():
            rel = self.con.sql(sql)
            self._expected[(job, sink)] = (rel.columns, rel.fetchall())

    def check_record(self, job: str, status: str, metrics: dict) -> list[str]:
        if status != "SUCCESS":
            return [f"{job}: status {status}"]
        problems = []
        for (j, sink), (_, rows) in self._expected.items():
            if j != job:
                continue
            got = (metrics.get(sink) or {}).get("lines_received")
            if got != len(rows):
                problems.append(f"{job}.{sink}: lines_received {got}, expected {len(rows)}")
        return problems

    def check_outputs(self, job: str, out_dir: str) -> list[str]:
        problems = []
        for (j, sink), (columns, rows) in self._expected.items():
            if j != job:
                continue
            actual = self.con.sql(_output_sql(os.path.join(out_dir, sink), columns)).fetchall()
            problems += [f"{job}.{sink}: {p}" for p in compare_rows(rows, actual)]
        return problems

    def check_pagerank(self, edges: str, out_dir: str, tol: float = 1e-4) -> list[str]:
        nodes = self.con.sql(
            f"SELECT count(*) FROM (SELECT src AS n FROM read_parquet('{edges}') "
            f"UNION SELECT dst FROM read_parquet('{edges}'))"
        ).fetchone()[0]
        got_nodes, total = self.con.sql(
            f"SELECT count(*), sum(pagerank) FROM read_parquet('{out_dir}/*.parquet')"
        ).fetchone()
        problems = []
        if got_nodes != nodes:
            problems.append(f"pagerank: {got_nodes} nodes, expected {nodes}")
        if total is None or abs(total - 1.0) > tol:
            problems.append(f"pagerank: ranks sum to {total}, expected 1 +- {tol}")
        return problems

    def close(self) -> None:
        self.con.close()
