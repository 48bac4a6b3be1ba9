"""A job's sinks write concurrently. Independent sinks overlap; a sink
chained behind another sink's pass-through port and the DML sinks
keep their order; an attempt fails if any sink fails and names every
failing sink; worker threads write inside the run's scope."""

import sys
import threading
import time

import pytest

from etl_core_spark import session
from etl_core_spark.operators import base
from etl_core_spark.operators.base import OperatorConfigError, register_operator
from etl_core_spark.plans import build_job
from etl_core_spark.plans.runner import run_job, sink_lanes
from etl_core_spark.sources.base_io import SinkOperator


class _Probe:
    """What the probe sinks of one test share."""

    def __init__(self):
        self.events: list[tuple[str, str]] = []
        self.lock = threading.Lock()
        self.barrier = threading.Barrier(2, timeout=30)
        self.scopes: dict[str, session.RunScope] = {}
        self.tags: dict[str, str | None] = {}

    def add(self, event: str, tag: str) -> None:
        with self.lock:
            self.events.append((event, tag))

    def order(self, *tags: str) -> list[tuple[str, str]]:
        return [e for e in self.events if e[1] in tags]


PROBE = _Probe()
#: a Spark local property the caller sets and every write must see
TAG = "etl_core_spark.test.tag"
ERRORS = {"RuntimeError": RuntimeError, "OperatorConfigError": OperatorConfigError}


class ProbeSink(SinkOperator):
    """Logs when its write starts and ends. Options: ``barrier`` waits
    for a second barrier sink to reach its write too, ``persist``
    caches the input in the current run scope first, ``fail`` raises
    the named error, ``sleep`` holds the write open after its action."""

    def write(self, df):
        c = self.config
        PROBE.add("start", c["tag"])
        PROBE.tags[c["tag"]] = df.sparkSession.sparkContext.getLocalProperty(TAG)
        if c.get("barrier"):
            PROBE.barrier.wait()
        if c.get("persist"):
            df = session.persist_intermediate(df)
            PROBE.scopes[c["tag"]] = session._SCOPE.get()
        if c.get("fail"):
            raise ERRORS[c["fail"]](f"{c['tag']} failed")
        df.write.format("noop").mode("overwrite").save()
        time.sleep(c.get("sleep", 0))
        PROBE.add("end", c["tag"])


class DmlProbeSink(ProbeSink):
    dml = True


@pytest.fixture(autouse=True)
def probe_sinks():
    global PROBE
    PROBE = _Probe()
    for name, cls in (("test_probe_sink", ProbeSink), ("test_dml_probe_sink", DmlProbeSink)):
        register_operator(name)(cls)
    yield
    for name in ("test_probe_sink", "test_dml_probe_sink"):
        base._REGISTRY.pop(name)


def _job(tmp_path, sinks, read_to=None, num_of_retries=0):
    """read_csv (3 rows) → the sinks named in ``read_to`` (default:
    all). ``sinks`` maps name → probe options, in config order;
    ``dml`` picks the DML probe, ``to`` routes the sink's ``out``."""
    src = tmp_path / "in.csv"
    src.write_text("id,name,age\n1,alice,30\n2,bob,17\n3,carol,45\n")
    comps = [{
        "name": "read", "comp_type": "read_csv", "filepath": str(src),
        "routes": {"out": [{"to": n, "in_port": "in"} for n in (read_to or sinks)]},
    }]
    for name, opts in sinks.items():
        opts = dict(opts)
        comp = {
            "name": name,
            "comp_type": "test_dml_probe_sink" if opts.pop("dml", False) else "test_probe_sink",
            "tag": name,
            **opts,
        }
        if "to" in comp:
            comp["routes"] = {"out": [{"to": comp.pop("to"), "in_port": "in"}]}
        comps.append(comp)
    return {"name": "probe_job", "num_of_retries": num_of_retries, "components": comps}


def test_independent_sinks_write_at_the_same_time(spark, tmp_path):
    """Each write waits until the other has started: written one after
    another, the first one's barrier times out and the job fails. Both
    writes see the caller's Spark local properties, which tag the jobs
    they submit."""
    job = _job(tmp_path, {"a": {"barrier": True}, "b": {"barrier": True}})
    sc = spark.sparkContext
    sc.setLocalProperty(TAG, "caller")
    try:
        result = run_job(spark, job)
    finally:
        sc.setLocalProperty(TAG, None)
    assert result.status == "SUCCESS", result.error
    assert PROBE.tags == {"a": "caller", "b": "caller"}
    assert result.metrics["a"] == {"lines_received": 3}
    assert result.metrics["b"] == {"lines_received": 3}


def test_chained_sink_writes_after_its_feeder(spark, tmp_path):
    """``b`` reads ``a``'s pass-through port, so it starts only after
    ``a``'s write has returned; ``c`` has a lane of its own."""
    job = _job(
        tmp_path,
        {"a": {"sleep": 0.5, "to": "b"}, "b": {}, "c": {}},
        read_to=["a", "c"],
    )
    assert sink_lanes(build_job(spark, job)) == [["a", "b"], ["c"]]
    result = run_job(spark, job)
    assert result.status == "SUCCESS", result.error
    assert PROBE.order("a", "b") == [("start", "a"), ("end", "a"), ("start", "b"), ("end", "b")]
    assert result.metrics["b"] == {"lines_received": 3}


def test_dml_sinks_write_one_at_a_time_in_config_order(spark, tmp_path):
    """The read routes to the DML sinks in reverse; they still write
    in the order the config lists them, never overlapping, while the
    plain sink writes on its own lane."""
    dml = {"sleep": 0.2, "dml": True}
    job = _job(
        tmp_path,
        {"d1": dml, "plain": {}, "d2": dml, "d3": dml},
        read_to=["d3", "plain", "d2", "d1"],
    )
    assert sink_lanes(build_job(spark, job)) == [["d1", "d2", "d3"], ["plain"]]
    result = run_job(spark, job)
    assert result.status == "SUCCESS", result.error
    assert PROBE.order("d1", "d2", "d3") == [
        (event, tag) for tag in ("d1", "d2", "d3") for event in ("start", "end")
    ]


def test_every_failing_sink_is_named_and_a_fatal_one_stops_retries(spark, tmp_path):
    job = _job(
        tmp_path,
        {"x": {"fail": "RuntimeError"}, "y": {"fail": "OperatorConfigError"}},
        num_of_retries=2,
    )
    result = run_job(spark, job)
    assert result.status == "FAILED"
    assert result.attempts == 1  # y's error is not retryable
    assert "RuntimeError: x failed (sink 'x')" in result.error
    assert "OperatorConfigError: y failed (sink 'y')" in result.error


def test_retryable_failures_retry_and_a_failed_lane_stops(spark, tmp_path):
    """Both failures can succeed on a re-run, so every attempt is made.
    The sink chained behind a failed sink never starts."""
    job = _job(
        tmp_path,
        {"x": {"fail": "RuntimeError", "to": "after_x"}, "after_x": {},
         "y": {"fail": "RuntimeError"}},
        read_to=["x", "y"],
        num_of_retries=2,
    )
    result = run_job(spark, job)
    assert result.status == "FAILED"
    assert result.attempts == 3
    assert "(sink 'x')" in result.error and "(sink 'y')" in result.error
    assert ("start", "after_x") not in PROBE.events


def _held(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_concurrent_sinks_cache_into_the_run_scope(spark, tmp_path):
    """Both writes, one of them on a worker thread, persist into the
    scope ``run_job`` opened, which frees them when the run ends."""
    job = _job(
        tmp_path,
        {"a": {"barrier": True, "persist": True}, "b": {"barrier": True, "persist": True}},
    )
    before = _held(spark)
    outer = session._SCOPE.get()
    result = run_job(spark, job)
    assert result.status == "SUCCESS", result.error
    assert PROBE.scopes.keys() == {"a", "b"}
    assert PROBE.scopes["a"] is PROBE.scopes["b"]
    assert PROBE.scopes["a"] not in (outer, session._AMBIENT)
    assert _held(spark) == before


def test_many_failing_sinks_are_all_named(spark, tmp_path):
    """More sink threads than cores, with thread switches forced often:
    every failure reaches the attempt's error."""
    names = [f"s{i}" for i in range(8)]
    job = _job(tmp_path, {n: {"fail": "RuntimeError"} for n in names})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        result = run_job(spark, job)
    finally:
        sys.setswitchinterval(interval)
    assert result.status == "FAILED"
    assert result.error.splitlines() == [f"RuntimeError: {n} failed (sink {n!r})" for n in names]


def test_round_trip_counter_counts_every_thread(spark, py4j_round_trips):
    """The counter loses no command that threads send at the same time.
    Each new thread first authenticates its own connection."""
    jsc = spark.sparkContext._jsc
    threads, calls_each = 8, 200

    def send():
        for _ in range(calls_each):
            jsc.getLocalProperty(TAG)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with py4j_round_trips() as calls:
            workers = [threading.Thread(target=send) for _ in range(threads)]
            for w in workers:
                w.start()
            for w in workers:
                w.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in workers)
    assert calls.n == threads * (calls_each + 1)
