"""Self-test of the benchmark's correctness checks (no Spark needed).

    python3 perfbench/selftest.py

Feeds the oracle right and wrong answers and exits non-zero unless
every wrong one is reported as a failure and every right one passes.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from oracle import Oracle, compare_rows  # noqa: E402


def main() -> int:
    failures = []

    def expect(label: str, problems: list[str], should_fail: bool) -> None:
        if bool(problems) != should_fail:
            failures.append(f"{label}: got {problems or 'no problems'}")

    rows = [("a", 1, 0.1 + 0.2), ("b", 2, None), ("a", 1, 3.0)]
    expect("same rows, other order", compare_rows(rows, list(reversed(rows))), False)
    expect("float summed in another order", compare_rows([("x", 0.3)], [("x", 0.1 + 0.2)]), False)
    expect("wrong count value", compare_rows(rows, [("a", 1, 0.3), ("b", 3, None), ("a", 1, 3.0)]), True)
    expect("wrong float", compare_rows([("x", 1.0)], [("x", 1.001)]), True)
    expect("missing row", compare_rows(rows, rows[:2]), True)
    expect("duplicate instead of distinct row", compare_rows(rows, [rows[0], rows[0], rows[1]]), True)
    expect("null instead of value", compare_rows([("x", 1)], [("x", None)]), True)

    scratch = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        oracle = Oracle(tmp)
        edges = os.path.join(tmp, "edges.parquet")
        ranks = os.path.join(tmp, "ranks")
        os.makedirs(ranks)
        oracle.con.execute(f"COPY (SELECT * FROM (VALUES (1, 2), (2, 3)) t(src, dst)) TO '{edges}'")
        oracle.con.execute(
            f"COPY (SELECT * FROM (VALUES (1, 0.3::DOUBLE), (2, 0.3), (3, 0.4)) t(node, pagerank)) "
            f"TO '{ranks}/a.parquet'"
        )
        expect("pagerank sums to 1", oracle.check_pagerank(edges, ranks), False)
        oracle.con.execute(
            f"COPY (SELECT * FROM (VALUES (1, 0.3::DOUBLE), (2, 0.3)) t(node, pagerank)) "
            f"TO '{ranks}/a.parquet'"
        )
        expect("pagerank lost a node", oracle.check_pagerank(edges, ranks), True)

        # lines_received is compared with DuckDB's count per sink
        oracle._expected[("job", "sink")] = (["x"], [(1,), (2,)])
        expect("right lines_received", oracle.check_record("job", "SUCCESS", {"sink": {"lines_received": 2}}), False)
        expect("wrong lines_received", oracle.check_record("job", "SUCCESS", {"sink": {"lines_received": 3}}), True)
        expect("sink missing", oracle.check_record("job", "SUCCESS", {}), True)
        expect("failed status", oracle.check_record("job", "FAILED", {"sink": {"lines_received": 2}}), True)
        oracle.close()

    for f in failures:
        print(f"SELFTEST FAIL {f}")
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
