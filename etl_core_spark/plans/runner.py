"""Job runner: executes sink actions with retry + metrics.

Replaces the reference's execution layer
(``job_execution_handler.py:52-67,206-259`` — asyncio main loop with
a constant-backoff retry strategy per attempt, metrics aggregation
``_finalize_success:657-692``). Here an *attempt* is simply re-running
the sink actions, at once and with no backoff: the plan is immutable
and lazy, so retry is safe re-execution (idempotent for overwrite-mode
sinks). A failure in ``NOT_RETRYABLE`` would only repeat, so it fails
the run at once.

The runner only writes. Metrics are read from the row counters the
builder attached to every edge into a live component, so the counts
ride the same pass as the writes, instead of the reference's extra
``map_partitions(len).sum().compute()`` passes
(``filter_receiver.py:107-116`` triple-computes the graph).
"""

from __future__ import annotations

import dataclasses
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

    def run(self) -> RunResult:
        job = self.builder.job
        max_attempts = max(1, job.num_of_retries + 1)
        start = time.monotonic()
        last_error: str | None = None
        for attempt in range(1, max_attempts + 1):
            try:
                metrics = self._run_once()
            except Exception as exc:  # noqa: BLE001 - retry boundary
                last_error = f"{type(exc).__name__}: {exc}"
                if attempt == max_attempts or isinstance(exc, NOT_RETRYABLE):
                    break
                continue
            return RunResult(
                job_name=job.name,
                status="SUCCESS",
                attempts=attempt,
                wall_seconds=time.monotonic() - start,
                metrics=metrics,
            )
        return RunResult(
            job_name=job.name,
            status="FAILED",
            attempts=attempt,
            wall_seconds=time.monotonic() - start,
            error=last_error,
        )

    def _run_once(self) -> dict[str, Any]:
        for sink_name in self.builder.sinks:
            self.builder.operators[sink_name].write(self.builder.sink_inputs[sink_name])
        return self._component_metrics()

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
            n = obs.get["count"]
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


def run_job(spark, config) -> RunResult:
    """Build and run one job in its own run scope: what operators
    cache or checkpoint at build time must outlive every retry
    attempt, and is released when the run ends, also on error."""
    with run_scope():
        # looked up on the module at call time, so a wrapper installed
        # on plans.builder.build_job (tracing) sees every build
        return JobRunner(_builder.build_job(spark, config)).run()

