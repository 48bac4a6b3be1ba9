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
declared port columns must exist in the actual DataFrame schemas at
build time.

Row counts: every edge into a live component (one on some path to a
sink) carries its own ``df.observe`` row counter. The counts ride the
sink actions themselves (one CollectMetrics node per edge, zero extra
scans) — the reference pays an extra
``map_partitions(len).sum().compute()`` pass per metric
(``filter_receiver.py:107-116``). Counting per edge rather than per
port keeps a sink's count exact when a sibling consumer of the same
port runs a build-time probe (a ``take(1)``) that completes its own
counter early. A sink's pass-through ``out`` port re-emits its
uncounted input.
"""

from __future__ import annotations

import graphlib
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.column import _to_seq

from etl_core_spark.operators.base import Operator, get_operator
from etl_core_spark.plans.config import ComponentConfig, JobConfig, JobConfigError
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator, reading_confs_once


class PlanBuilder:
    def __init__(self, spark: SparkSession, job: JobConfig):
        self.spark = spark
        self.job = job
        self.operators: dict[str, Operator] = {}
        self.outputs: dict[str, dict[str, DataFrame]] = {}
        self.sinks: list[str] = []
        self.sink_inputs: dict[str, DataFrame] = {}
        #: one row counter per edge into a live component, in the
        #: topological order of the targets:
        #: [(src_name, src_port, dst_name, Observation)]
        self.edge_counters: list[tuple[str, str, str, Observation]] = []

    def _instantiate(self, comp: ComponentConfig, cls: type[Operator]) -> Operator:
        from etl_core_spark.plans.context import apply_context

        params = apply_context(comp.params)
        if issubclass(cls, SourceOperator):
            return cls(spark=self.spark, **params)
        return cls(**params)

    def _plan(
        self, classes: dict[str, type[Operator]]
    ) -> tuple[list[str], dict[str, list[tuple[str, str, str]]], set[str]]:
        """Topological order, inbound edges ``[(src_name, src_port,
        in_port)]`` per component, and the live set, from one walk of
        the edge list. Counters attach only to edges into live
        components: a dead branch never executes, and an
        ``Observation.get`` on it would block forever."""
        names = {c.name for c in self.job.components}
        inbound: dict[str, list[tuple[str, str, str]]] = {n: [] for n in names}
        ts: graphlib.TopologicalSorter[str] = graphlib.TopologicalSorter()
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
                    inbound[edge.to].append((comp.name, out_port, edge.in_port))
        try:
            order = list(ts.static_order())
        except graphlib.CycleError as exc:
            raise JobConfigError(f"job DAG has a cycle: {exc.args[1]}") from exc
        # successors come first in reverse order, so one pass marks
        # every component on a path to a sink
        live = {n for n in order if issubclass(classes[n], SinkOperator)}
        for name in reversed(order):
            if name in live:
                live.update(src for src, _, _ in inbound[name])
        return order, inbound, live

    # -- build ----------------------------------------------------------

    def build(self) -> dict[str, dict[str, DataFrame]]:
        with reading_confs_once():
            return self._build()

    def _build(self) -> dict[str, dict[str, DataFrame]]:
        comps = {c.name: c for c in self.job.components}
        classes = {n: get_operator(c.comp_type) for n, c in comps.items()}
        order, inbound, live = self._plan(classes)
        # one Column, JVM Observation class and empty Seq shared by
        # every counter of this build: ``df.observe(Observation(), ...)``
        # looks up the class and builds the Seq again on each edge
        count = F.count(F.lit(1)).alias("count")
        jvm = self.spark._jvm
        jobservation = getattr(jvm, "org.apache.spark.sql.Observation")
        no_more_exprs = _to_seq(self.spark.sparkContext, [])

        for name in order:
            comp = comps[name]
            op = self.operators[name] = self._instantiate(comp, classes[name])

            inputs: dict[str, DataFrame] = {}
            uncounted: dict[str, DataFrame] = {}
            per_port_count: dict[str, int] = {}
            for src_name, src_port, in_port in inbound[name]:
                src_out = self.outputs[src_name]
                if src_port not in src_out:
                    raise JobConfigError(
                        f"{src_name} has no out port {src_port!r} "
                        f"(has {sorted(src_out)})"
                    )
                n = per_port_count.get(in_port, 0)
                key = in_port if n == 0 else f"{in_port}#{n}"
                per_port_count[in_port] = n + 1
                df = uncounted[key] = src_out[src_port]
                if name in live:
                    # what Observation._on does, with the shared lookups
                    obs = Observation()
                    obs._jvm, obs._jo = jvm, jobservation()
                    df = DataFrame(
                        df._jdf.observe(obs._jo, count._jc, no_more_exprs), df.sparkSession
                    )
                    self.edge_counters.append((src_name, src_port, name, obs))
                inputs[key] = df

            if isinstance(op, SinkOperator):
                # defer the terminal action to the runner; the plan
                # stays lazy end-to-end at build time
                self.sink_inputs[name] = op.single_input(inputs)
                self.sinks.append(name)
                outputs = {"out": op.single_input(uncounted)}
            else:
                outputs = op.apply(inputs)
            self._check_port_schemas(comp, outputs)
            self.outputs[name] = outputs
        return self.outputs

    def _check_port_schemas(self, comp: ComponentConfig, outputs: dict[str, DataFrame]) -> None:
        for port, schema in comp.port_schemas.items():
            if port not in outputs:
                continue
            expected = schema.to_struct_type()
            actual_names = [f.name for f in outputs[port].schema.fields]
            missing = [f.name for f in expected.fields if f.name not in actual_names]
            if missing:
                raise JobConfigError(
                    f"{comp.name}.{port}: missing declared columns {missing}"
                )


def build_job(spark: SparkSession, config: JobConfig | dict[str, Any]) -> PlanBuilder:
    job = config if isinstance(config, JobConfig) else JobConfig.from_dict(config)
    builder = PlanBuilder(spark, job)
    builder.build()
    return builder
