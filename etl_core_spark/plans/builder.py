"""Config DAG → lazy DataFrame plan.

Replaces the reference's runtime interpretation
(``job_execution_handler.py:261-329``: one asyncio worker + queue per
component) with a **topological compile**: walk components in
dependency order, call each operator's ``apply``, and hand the
resulting DataFrames to successors. Nothing executes here — the
output is a dict of lazy DataFrames per component/port, one Catalyst
plan per sink, so pushdown/pruning/AQE span the whole job.

Wiring validation (≈ ``runtimejob.py:49-129,265-322``): routes must
reference existing components and declared in-ports, every component
must be reachable/acyclic, fan-in collisions are detected, and
declared port schemas are checked against the actual DataFrame
schemas at build time (strict mode: unknown extra columns are errors,
matching ``common_helpers.py:161-179``).
"""

from __future__ import annotations

import graphlib
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_core_spark.operators.base import Operator, get_operator
from etl_core_spark.plans.config import ComponentConfig, JobConfig, JobConfigError
from etl_core_spark.schema import Schema
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator


class PlanBuilder:
    def __init__(
        self,
        spark: SparkSession,
        job: JobConfig,
        strict_schemas: bool = False,  # keep in sync with build_job
    ):
        self.spark = spark
        self.job = job
        self.strict_schemas = strict_schemas
        self.operators: dict[str, Operator] = {}
        self.outputs: dict[str, dict[str, DataFrame]] = {}
        self.sinks: list[str] = []
        self.sink_inputs: dict[str, DataFrame] = {}
        #: per-component {out_port: Observation} for ports on a live
        #: path to a sink
        self.observations: dict[str, dict[str, Any]] = {}
        #: inbound edges per component: [(src_name, src_port, in_port)]
        self.inbound_edges: dict[str, list[tuple[str, str, str]]] = {}

    # -- validation -----------------------------------------------------

    def _instantiate(self, comp: ComponentConfig) -> Operator:
        from etl_core_spark.plans.context import apply_context

        cls = get_operator(comp.comp_type)
        params = apply_context(comp.params)
        if issubclass(cls, SourceOperator):
            return cls(spark=self.spark, **params)
        return cls(**params)

    def _topo_order(self) -> list[str]:
        ts: graphlib.TopologicalSorter[str] = graphlib.TopologicalSorter()
        names = {c.name for c in self.job.components}
        for comp in self.job.components:
            ts.add(comp.name)
            for out_port, edges in comp.routes.items():
                for edge in edges:
                    if edge.to not in names:
                        raise JobConfigError(
                            f"{comp.name}.{out_port} routes to unknown component "
                            f"{edge.to!r}"
                        )
                    ts.add(edge.to, comp.name)
        try:
            return list(ts.static_order())
        except graphlib.CycleError as exc:
            raise JobConfigError(f"job DAG has a cycle: {exc.args[1]}") from exc

    def _live_components(self) -> set[str]:
        """Components on some path to a sink. Observations attach only
        to live out-ports: a dead branch never executes, and an
        ``Observation.get`` on it would block forever."""
        rev: dict[str, set[str]] = {c.name: set() for c in self.job.components}
        live: set[str] = set()
        for comp in self.job.components:
            if issubclass(get_operator(comp.comp_type), SinkOperator):
                live.add(comp.name)
            for edges in comp.routes.values():
                for edge in edges:
                    rev[edge.to].add(comp.name)
        stack = list(live)
        while stack:
            for pred in rev[stack.pop()]:
                if pred not in live:
                    live.add(pred)
                    stack.append(pred)
        return live

    def _observe_outputs(
        self, comp: ComponentConfig, outputs: dict[str, DataFrame], live: set[str]
    ) -> dict[str, DataFrame]:
        """Wrap live out-ports with ``df.observe`` row counters.

        Counts ride the sink actions themselves (one CollectMetrics
        node per port, zero extra scans) — the reference pays an extra
        ``map_partitions(len).sum().compute()`` pass per metric
        (``filter_receiver.py:107-116``). Observation names carry a
        uuid: names are global per session and a rebuilt plan must not
        collide with a previous build's listeners."""
        import uuid

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs_map: dict[str, Any] = {}
        for port, df in outputs.items():
            edges = comp.routes.get(port, ())
            if not any(e.to in live for e in edges):
                continue
            obs = Observation(f"m_{comp.name}_{port}_{uuid.uuid4().hex[:8]}")
            outputs[port] = df.observe(obs, F.count(F.lit(1)).alias("count"))
            obs_map[port] = obs
        if obs_map:
            self.observations[comp.name] = obs_map
        return outputs

    # -- build ----------------------------------------------------------

    def build(self) -> dict[str, dict[str, DataFrame]]:
        order = self._topo_order()
        # collect inbound edges per component
        inbound: dict[str, list[tuple[str, str, str]]] = {c.name: [] for c in self.job.components}
        for comp in self.job.components:
            for out_port, edges in comp.routes.items():
                for edge in edges:
                    inbound[edge.to].append((comp.name, out_port, edge.in_port))
        self.inbound_edges = inbound
        live = self._live_components()

        for name in order:
            comp = self.job.component(name)
            op = self._instantiate(comp)
            self.operators[name] = op

            inputs: dict[str, DataFrame] = {}
            per_port_count: dict[str, int] = {}
            for src_name, src_port, in_port in inbound[name]:
                src_out = self.outputs.get(src_name, {})
                if src_port not in src_out:
                    raise JobConfigError(
                        f"{src_name} has no out port {src_port!r} "
                        f"(has {sorted(src_out)})"
                    )
                n = per_port_count.get(in_port, 0)
                key = in_port if n == 0 else f"{in_port}#{n}"
                per_port_count[in_port] = n + 1
                inputs[key] = src_out[src_port]

            if isinstance(op, SinkOperator):
                # defer the terminal action to the runner; the plan
                # stays lazy end-to-end at build time
                df = op.single_input(inputs)
                outputs = {"out": df}
                self.sink_inputs[name] = df
                self.sinks.append(name)
            else:
                outputs = op.apply(inputs)
            self._check_port_schemas(comp, outputs)
            if name in live and not isinstance(op, SinkOperator):
                outputs = self._observe_outputs(comp, outputs, live)
            self.outputs[name] = outputs
        return self.outputs

    def _check_port_schemas(self, comp: ComponentConfig, outputs: dict[str, DataFrame]) -> None:
        for port, schema in comp.port_schemas.items():
            if port not in outputs:
                continue
            expected = schema.to_struct_type()
            actual = outputs[port].schema
            expected_names = [f.name for f in expected.fields]
            actual_names = [f.name for f in actual.fields]
            missing = [n for n in expected_names if n not in actual_names]
            if missing:
                raise JobConfigError(
                    f"{comp.name}.{port}: missing declared columns {missing}"
                )
            if self.strict_schemas:
                extra = [n for n in actual_names if n not in expected_names]
                if extra:
                    raise JobConfigError(
                        f"{comp.name}.{port}: unexpected extra columns {extra} "
                        "(strict mode)"
                    )
                # declared TYPES are part of the strict contract: a
                # declared integer backed by a string column must fail
                # at BUILD time, not deep inside a downstream
                # aggregation (name-presence alone defeated the
                # advertised build-time schema gate)
                actual_types = {f.name: f.dataType for f in actual.fields}
                for fld in expected.fields:
                    got = actual_types[fld.name]
                    if got.simpleString() != fld.dataType.simpleString():
                        raise JobConfigError(
                            f"{comp.name}.{port}.{fld.name}: declared "
                            f"{fld.dataType.simpleString()} but the plan "
                            f"produces {got.simpleString()} (strict mode)"
                        )


def build_job(
    spark: SparkSession, config: JobConfig | dict[str, Any], strict_schemas: bool = False
) -> PlanBuilder:
    job = config if isinstance(config, JobConfig) else JobConfig.from_dict(config)
    builder = PlanBuilder(spark, job, strict_schemas=strict_schemas)
    builder.build()
    return builder
