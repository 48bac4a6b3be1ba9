import contextlib
import gc
import threading
import types

import pytest

from etl_core_spark.session import get_spark, run_scope

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etl_core_spark_tests")
    yield spark


@pytest.fixture(autouse=True)
def _run_scope():
    """Each test is one run: what operators cache or checkpoint during
    it is released when it ends, which bounds the session's storage."""
    with run_scope():
        yield


@pytest.fixture(scope="session")
def tables(spark):
    from etl_core_spark.tables import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for n in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {n} AS SELECT * FROM '{SF_DIR}/{n}.parquet'"
        )
    return con


def assert_df_equal(spark_df, duck_rows, sort_cols=None, approx=None):
    """Order-insensitive comparison of a Spark DataFrame against
    DuckDB result rows (list of tuples)."""
    got = [tuple(r) for r in spark_df.collect()]
    want = [tuple(r) for r in duck_rows]
    keyfn = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got_sorted = sorted(got, key=keyfn)
    want_sorted = sorted(want, key=keyfn)
    assert len(got_sorted) == len(want_sorted), (
        f"row count mismatch: spark={len(got_sorted)} oracle={len(want_sorted)}"
    )
    for g, w in zip(got_sorted, want_sorted):
        assert len(g) == len(w), f"width mismatch: {g} vs {w}"
        for gv, wv in zip(g, w):
            if approx is not None and isinstance(gv, float) and isinstance(wv, float):
                assert gv == pytest.approx(wv, abs=approx), f"{g} vs {w}"
            else:
                assert gv == wv, f"{g} vs {w}"


@contextlib.contextmanager
def _count_round_trips():
    """Count the Py4J commands this process sends to the JVM inside
    the block. Object-release messages (``m\nd\n``) are skipped and
    a ``gc.collect()`` runs first: Python's garbage collector sends
    those whenever it happens to run, and counted they make one warm
    build read anywhere from 2,212 to 3,007 calls."""
    from py4j.clientserver import ClientServerConnection

    gc.collect()
    calls = types.SimpleNamespace(n=0)
    real = ClientServerConnection.send_command
    lock = threading.Lock()  # sink threads send commands concurrently

    def send_command(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            with lock:
                calls.n += 1
        return real(self, command, *args, **kwargs)

    ClientServerConnection.send_command = send_command
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = real


@pytest.fixture
def py4j_round_trips():
    """``with py4j_round_trips() as calls: ...`` then ``calls.n``."""
    return _count_round_trips
