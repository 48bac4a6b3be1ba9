"""Run scopes own operator intermediates: what a run persists or
checkpoints is released when the run ends, and never by anyone else."""

import contextvars
import json
import threading
import urllib.request
from collections import defaultdict

import pytest

from etl_core_spark.api import serve
from etl_core_spark.plans.store import JobStore
from etl_core_spark.session import release_intermediates

ITERATIONS = 6


def _held(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _pagerank_ref(edges, damping=0.85, iterations=ITERATIONS):
    """Directed PageRank with dangling-mass redistribution, in Python."""
    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    out = defaultdict(set)
    for s, t in edges:
        out[s].add(t)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dm = sum(r[v] for v in nodes if not out[v]) / n
        c = defaultdict(float)
        for s, ts in out.items():
            for t in ts:
                c[t] += r[s] / len(ts)
        r = {v: (1 - damping) / n + damping * (c[v] + dm) for v in nodes}
    return r


def _graph_job(spark, tmp_path, name, edges) -> dict:
    src = str(tmp_path / f"{name}_edges")
    spark.createDataFrame(edges, "src long, dst long").write.parquet(src)
    return {
        "name": name,
        "components": [
            {"name": "r", "comp_type": "read_parquet", "filepath": src,
             "routes": {"out": [{"to": "rank", "in_port": "in"}]}},
            {"name": "rank", "comp_type": "pagerank", "src": "src", "dst": "dst",
             "undirected": False, "iterations": ITERATIONS,
             "routes": {"out": [{"to": "w", "in_port": "in"}]}},
            {"name": "w", "comp_type": "write_parquet",
             "filepath": str(tmp_path / f"{name}_out")},
        ],
    }


def _check_ranks(spark, tmp_path, name, edges):
    got = {
        r["node"]: r["pagerank"]
        for r in spark.read.parquet(str(tmp_path / f"{name}_out")).collect()
    }
    want = _pagerank_ref(edges)
    assert got.keys() == want.keys()
    for v, rank in want.items():
        assert got[v] == pytest.approx(rank, abs=2e-9)


# node 6 is dangling, so every round checkpoints and releases a round
CHAIN = [(i, i + 1) for i in range(1, 6)] + [(2, 1), (4, 2)]
STAR = [(1, j) for j in range(2, 9)] + [(j, 1) for j in range(2, 8)]


def test_repeated_executions_hold_no_storage(spark, tmp_path):
    """The API and scheduler path runs a job again and again in one
    session; each directed-PageRank run must leave the executor's
    persistent RDD count where it found it."""
    store = JobStore(tmp_path / "jobs.db")
    job_id = store.create_job(_graph_job(spark, tmp_path, "chain", CHAIN))
    before = _held(spark)
    for _ in range(3):
        assert store.start_execution(spark, job_id).status == "SUCCESS"
        assert _held(spark) == before
    _check_ranks(spark, tmp_path, "chain", CHAIN)
    store.close()


def test_concurrent_api_runs_keep_their_checkpoints(spark, tmp_path):
    """Two checkpointing graph jobs POSTed at once to the threaded
    API both succeed with correct ranks, while another thread keeps
    calling the global release: each run owns its checkpoints, so no
    one else can free them mid-run. Nothing stays cached after."""
    store = JobStore(tmp_path / "jobs.db")
    server = serve(spark, store, port=0)
    graphs = {"chain": CHAIN, "star": STAR}
    job_ids = {
        name: store.create_job(_graph_job(spark, tmp_path, name, edges))
        for name, edges in graphs.items()
    }
    # the releaser frees the ambient scope (a new thread opens no run
    # scope), which may hold earlier modules' fixtures: empty it first
    # so the baseline is stable
    contextvars.Context().run(release_intermediates)
    before = _held(spark)
    records = {}

    def post(name):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/execution/{job_ids[name]}", method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            records[name] = json.loads(resp.read())

    done = threading.Event()

    def release_loop():
        while not done.is_set():
            release_intermediates()
            done.wait(0.05)

    threads = [threading.Thread(target=post, args=(n,)) for n in graphs]
    releaser = threading.Thread(target=release_loop)
    try:
        releaser.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        done.set()
        releaser.join(timeout=60)
        server.stop()
        store.close()
    assert not releaser.is_alive()
    for name, edges in graphs.items():
        assert records[name]["status"] == "SUCCESS", records[name]["error"]
        _check_ranks(spark, tmp_path, name, edges)
    assert _held(spark) == before


class _Frame:
    """Stands in for a DataFrame: counts persists and unpersists."""

    def __init__(self):
        self.persisted = self.unpersisted = 0

    def persist(self):
        self.persisted += 1

    def unpersist(self):
        self.unpersisted += 1


def test_shared_scope_loses_no_frames_under_contention():
    """Threads persisting into and releasing from one scope: every
    frame is freed exactly once, early or at close, none twice."""
    import sys

    from etl_core_spark.session import RunScope

    scope = RunScope()
    frames = [[_Frame() for _ in range(200)] for _ in range(16)]

    def work(mine):
        for i, f in enumerate(mine):
            scope.persist(f)
            if i % 2:
                scope.release(f)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(m,)) for m in frames]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert scope.close() == 16 * 100
    assert all(f.persisted == f.unpersisted == 1 for m in frames for f in m)


def test_upsert_parquet_holds_no_storage(spark, tmp_path):
    """upsert_parquet checkpoints its batch and the carried rows; it
    frees both when it returns, not when the enclosing run ends."""
    import gc

    from etl_core_spark.sources.parquet_io import upsert_parquet

    table = str(tmp_path / "table")
    before = _held(spark)
    for batch in ([(1, "a"), (2, "b")], [(2, "B"), (3, "c")], [(1, "A")]):
        upsert_parquet(spark.createDataFrame(batch, "id long, v string"), table, keys=["id"])
    gc.collect()
    assert _held(spark) == before
    got = sorted(tuple(r) for r in spark.read.parquet(table).collect())
    assert got == [(1, "A"), (2, "B"), (3, "c")]
