"""Job runner: executes sink actions with retry + metrics.

Replaces the reference's execution layer
(``job_execution_handler.py:52-67,206-259`` — asyncio main loop with
a constant-backoff retry strategy per attempt, metrics aggregation
``_finalize_success:657-692``). Here an *attempt* is simply re-running
the sink actions, at once and with no backoff: the plan is immutable
and lazy, so retry is safe re-execution (idempotent for overwrite-mode
sinks). A failure in ``NOT_RETRYABLE`` would only repeat, so it fails
the run at once.

Sinks write concurrently, as the reference runs every component at
once (one asyncio worker per component, ``job_execution_handler.py:
261-329``): each write is mostly fixed per-action cost (planning,
commit, tiny stages), which the scheduler overlaps. Sinks whose order
is observable share a *lane* and write one after another: a sink fed
through another sink's pass-through ``out`` port writes after it, and
all DML sinks write in config order. The first lane runs on the
calling thread, every other lane on a thread of its own started for
the attempt, with the caller's contextvars (the run scope) and Spark
local properties (job group, tags). An attempt still means every
sink: it fails if any sink fails, and names each failing sink.

The runner only writes. Metrics are read from the row counters the
builder attached to every edge into a live component, so the counts
ride the same pass as the writes, instead of the reference's extra
``map_partitions(len).sum().compute()`` passes
(``filter_receiver.py:107-116`` triple-computes the graph).
"""

from __future__ import annotations

import collections
import contextvars
import dataclasses
import threading
import time
from typing import Any

from pyspark.errors import AnalysisException

from etl_core_spark.functions.casts import CastError
from etl_core_spark.operators.base import OperatorConfigError
from etl_core_spark.plans import builder as _builder
from etl_core_spark.plans.builder import PlanBuilder
from etl_core_spark.plans.config import JobConfigError
from etl_core_spark.session import run_scope
from etl_core_spark.sources.base_io import SinkOperator

#: failures a re-run of the same plan cannot fix: an unresolvable or
#: conflicting plan (missing column, missing input path, existing
#: output path under mode "error"), a bad config, an impossible cast
NOT_RETRYABLE = (AnalysisException, OperatorConfigError, JobConfigError, CastError)


class SinkFailures(Exception):
    """The sinks that failed in one attempt, each with its error."""

    def __init__(self, failures: list[tuple[str, Exception]]):
        self.failures = failures
        super().__init__(
            "\n".join(f"{type(exc).__name__}: {exc} (sink {name!r})" for name, exc in failures)
        )


@dataclasses.dataclass
class RunResult:
    job_name: str
    status: str
    attempts: int
    wall_seconds: float
    metrics: dict[str, Any] = dataclasses.field(default_factory=dict)
    error: str | None = None


class JobRunner:
    def __init__(self, builder: PlanBuilder):
        self.builder = builder
        self.lanes = sink_lanes(builder)

    def run(self) -> RunResult:
        job = self.builder.job
        max_attempts = max(1, job.num_of_retries + 1)
        start = time.monotonic()
        last_error: str | None = None
        for attempt in range(1, max_attempts + 1):
            try:
                metrics = self._run_once()
            except SinkFailures as exc:
                last_error = str(exc)
                final = any(isinstance(e, NOT_RETRYABLE) for _, e in exc.failures)
            except Exception as exc:  # noqa: BLE001 - retry boundary
                last_error = f"{type(exc).__name__}: {exc}"
                final = isinstance(exc, NOT_RETRYABLE)
            else:
                return RunResult(
                    job_name=job.name,
                    status="SUCCESS",
                    attempts=attempt,
                    wall_seconds=time.monotonic() - start,
                    metrics=metrics,
                )
            if final or attempt == max_attempts:
                break
        return RunResult(
            job_name=job.name,
            status="FAILED",
            attempts=attempt,
            wall_seconds=time.monotonic() - start,
            error=last_error,
        )

    def _run_once(self) -> dict[str, Any]:
        if not self.lanes:  # a job without sinks writes nothing
            return self._component_metrics()
        failures: dict[str, Exception] = {}
        first, *others = self.lanes
        workers = []
        if others:
            # a worker's Py4J connection has a JVM thread of its own,
            # which inherits none of the caller's local properties;
            # each worker gets its own copy, taken before any write
            jsc = self.builder.spark.sparkContext._jsc.sc()
            props = jsc.getLocalProperties()
            workers = [
                threading.Thread(
                    target=contextvars.copy_context().run,
                    args=(self._write_lane, lane, failures, jsc, props.clone()),
                )
                for lane in others
            ]
        for worker in workers:
            worker.start()
        try:
            self._write_lane(first, failures)
        finally:
            for worker in workers:
                worker.join()
        if failures:
            raise SinkFailures([(s, failures[s]) for s in self.builder.sinks if s in failures])
        return self._component_metrics()

    def _write_lane(self, lane: list[str], failures: dict[str, Exception],
                    jsc=None, props=None) -> None:
        """Write ``lane`` in order; its first failure ends it and is
        recorded under the failing sink's name."""
        name = lane[0]
        try:
            if props is not None:
                jsc.setLocalProperties(props)
            for name in lane:
                self.builder.operators[name].write(self.builder.sink_inputs[name])
        except Exception as exc:  # noqa: BLE001 - reported with the attempt
            failures[name] = exc

    def _component_metrics(self) -> dict[str, Any]:
        """Reference-parity per-component counters
        (``component_metrics.py:4-31``: lines_received / forwarded /
        dismissed), read from the build-time edge counters — every
        value rode a sink action, zero extra scans or count() calls.

        received = sum of the inbound edge counts; a port's count =
        the largest count among its edges (a build-time action over
        an edge, such as a ``take(1)`` probe, sees at most that edge's
        rows); forwarded = sum of the port counts; dismissed = rows
        received but not forwarded on any live port, floored at 0 —
        for a filter whose ``fail`` port is unrouted this is exactly
        the reference's FilterMetrics ``lines_dismissed``; for
        fan-out operators (split/join) forwarded may legitimately
        exceed received, hence the floor. Sinks report only
        ``lines_received``; sources have no received side.
        """
        received: dict[str, int] = {}
        ports: dict[str, dict[str, int]] = {}
        for src, src_port, dst, obs in self.builder.edge_counters:
            # ``getRow`` waits for the action's metrics as
            # ``Observation.get`` does; reading the one long from the
            # JVM row takes 2 round trips, ``get`` 4 (it also looks up
            # PythonSQLUtils and pickles the row across)
            n = obs._jo.getRow().getLong(0)
            received[dst] = received.get(dst, 0) + n
            src_ports = ports.setdefault(src, {})
            src_ports[src_port] = max(n, src_ports.get(src_port, 0))
        out: dict[str, Any] = {}
        for name, op in self.builder.operators.items():
            if isinstance(op, SinkOperator):
                out[name] = {"lines_received": received[name]}
            elif name in ports:
                forwarded = sum(ports[name].values())
                entry: dict[str, Any] = {"lines_forwarded": forwarded, "ports": ports[name]}
                if name in received:
                    entry["lines_received"] = received[name]
                    entry["lines_dismissed"] = max(0, received[name] - forwarded)
                out[name] = entry
        return out


def sink_lanes(builder: PlanBuilder) -> list[list[str]]:
    """The job's sinks, split into lanes that may write at the same
    time. Two sinks share a lane when one is fed, directly or through
    other components, by the other's pass-through ``out`` port, or
    when both are DML sinks. A lane lists a chained sink after the
    sinks that feed it and is otherwise in config order; the lanes
    are in the order of their first sinks."""
    sinks = set(builder.sinks)
    dml = {s for s in sinks if builder.operators[s].dml}
    # the sinks upstream of each live component: every component on a
    # path to a sink is live, and its counted edges come after its
    # source's
    above: dict[str, set[str]] = collections.defaultdict(set)
    for src, _, dst, _ in builder.edge_counters:
        above[dst] |= above[src] | ({src} & sinks)
    groups: list[set[str]] = []
    for s in builder.sinks:
        tied = above[s] | (dml if s in dml else set())
        groups = [g for g in groups if not g & tied] + [
            {s}.union(*(g for g in groups if g & tied))
        ]
    # a sink has more sinks above it than any sink that feeds it
    rank = {c.name: i for i, c in enumerate(builder.job.components)}
    order = sorted(sinks, key=lambda s: (len(above[s]), rank[s]))
    lanes = [[s for s in order if s in g] for g in groups]
    return sorted(lanes, key=lambda lane: order.index(lane[0]))


def run_job(spark, config) -> RunResult:
    """Build and run one job in its own run scope: what operators
    cache or checkpoint at build time must outlive every retry
    attempt, and is released when the run ends, also on error."""
    with run_scope():
        # looked up on the module at call time, so a wrapper installed
        # on plans.builder.build_job (tracing) sees every build
        return JobRunner(_builder.build_job(spark, config)).run()

