"""Job runner: executes sink actions with retry + metrics.

Replaces the reference's execution layer
(``job_execution_handler.py:52-67,206-259`` — asyncio main loop with
a constant-backoff retry strategy per attempt, metrics aggregation
``_finalize_success:657-692``). Here an *attempt* is simply re-running
the sink actions: the plan is immutable and lazy, so retry is safe
re-execution (idempotent for overwrite-mode sinks). A failure in
``NOT_RETRYABLE`` would only repeat, so it fails the run at once.

Metrics use ``df.observe`` — row counts ride the same pass as the
write, instead of the reference's extra
``map_partitions(len).sum().compute()`` passes
(``filter_receiver.py:107-116`` triple-computes the graph).
"""

from __future__ import annotations

import dataclasses
import time
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation

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
    def __init__(self, builder: PlanBuilder, retry_wait_seconds: float = 0.0):
        self.builder = builder
        self.retry_wait_seconds = retry_wait_seconds

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
                if self.retry_wait_seconds:
                    time.sleep(self.retry_wait_seconds)
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
        import uuid

        metrics: dict[str, Any] = {}
        for sink_name in self.builder.sinks:
            op = self.builder.operators[sink_name]
            assert isinstance(op, SinkOperator)
            df = self.builder.sink_inputs[sink_name]
            # observation names must be globally unique: a retried
            # attempt registering a same-named observation makes
            # Observation.get block forever on the stale listener
            obs = Observation(f"{sink_name}_rows_{uuid.uuid4().hex[:8]}")
            observed: DataFrame = df.observe(obs, _count_expr())
            op.write(observed)
            metrics[sink_name] = {"lines_received": obs.get["count"]}
        metrics.update(self._component_metrics(metrics))
        return metrics

    def _component_metrics(self, sink_metrics: dict[str, Any] | None = None) -> dict[str, Any]:
        """Reference-parity per-component counters
        (``component_metrics.py:4-31``: lines_received / forwarded /
        dismissed), read from the build-time observations — every
        value rode a sink action, zero extra scans or count() calls.

        received = sum of inbound edge counts (an edge into a live
        component comes from an observed port by construction);
        forwarded = sum of observed out-port counts; dismissed = rows
        received but not forwarded on any live port, floored at 0 —
        for a filter whose ``fail`` port is unrouted this is exactly
        the reference's FilterMetrics ``lines_dismissed``; for
        fan-out operators (split/join) forwarded may legitimately
        exceed received, hence the floor. Sinks keep their own
        ``lines_received`` entry from the write action itself.
        """
        obs = self.builder.observations
        if not obs:
            return {}
        port_counts: dict[str, dict[str, int]] = {
            name: {port: o.get["count"] for port, o in ports.items()}
            for name, ports in obs.items()
        }
        out: dict[str, Any] = {}
        for name, ports in port_counts.items():
            received = None
            inbound = self.builder.inbound_edges.get(name, [])
            # an edge can also come from a SINK's pass-through out
            # port (sinks are chainable); those ports are never
            # observed, but a sink forwards its input unchanged, so
            # its write-action lines_received IS the edge count —
            # without this the downstream component read received=0
            sink_metrics = sink_metrics or {}
            in_counts = []
            for src, src_port, _ in inbound:
                if src in port_counts and src_port in port_counts[src]:
                    in_counts.append(port_counts[src][src_port])
                elif src in sink_metrics and "lines_received" in sink_metrics[src]:
                    in_counts.append(sink_metrics[src]["lines_received"])
            if in_counts or inbound:
                received = sum(in_counts)
            forwarded = sum(ports.values())
            entry: dict[str, Any] = {
                "lines_forwarded": forwarded,
                "ports": dict(ports),
            }
            if received is not None:
                entry["lines_received"] = received
                entry["lines_dismissed"] = max(0, received - forwarded)
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


def _count_expr():
    from pyspark.sql import functions as F

    return F.count(F.lit(1)).alias("count")
