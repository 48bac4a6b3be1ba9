"""Operators bound from function signatures (``bind_operator``).

A bound operator's contract is its function's signature: in-ports bind
to the DataFrame parameters, config keys to the others. What remains
written twice is the API's ``FIELD_SPECS`` entry; the guard below pins
it to the signature.
"""

import inspect

import pytest

import etl_core_spark.operators  # noqa: F401 - registration side effects
import etl_core_spark.plans.builder  # noqa: F401 - registers sources and sinks
from etl_core_spark.operators.base import (
    BoundOperator,
    Operator,
    OperatorConfigError,
    get_operator,
    operator_doc,
    operator_names,
)
from etl_core_spark.operators.compare import psi_drift
from etl_core_spark.operators.timeseries import zscore_outliers
from etl_core_spark.plans.op_schemas import FIELD_SPECS
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator

BOUND = [n for n in operator_names() if issubclass(get_operator(n), BoundOperator)]


def test_field_specs_agree_with_signatures():
    """Each spec default equals the signature default, and the spec's
    required names are exactly the binding's required keys."""
    assert len(BOUND) >= 100
    bad = []
    for name in BOUND:
        cls = get_operator(name)
        params = inspect.signature(cls.function).parameters
        specs = FIELD_SPECS[name]
        for spec in specs:
            if "default" in spec and spec["name"] in params:
                default = params[spec["name"]].default
                if isinstance(default, tuple):
                    default = list(default)
                if default != spec["default"]:
                    bad.append((name, spec["name"], spec["default"], default))
        required = {s["name"] for s in specs if s["required"]}
        if required != set(cls.required):
            bad.append((name, sorted(required), cls.required))
    assert bad == []


def test_operator_docs_are_their_own():
    inherited = {inspect.getdoc(c) for c in (Operator, SourceOperator, SinkOperator)}
    bad = [n for n in operator_names() if operator_doc(get_operator(n)) in inherited]
    assert bad == []
    assert all(operator_doc(get_operator(n)) for n in operator_names())


def test_bound_class_takes_the_function_identity():
    cls = get_operator("zscore_outliers")
    assert cls.function is zscore_outliers
    assert cls.__doc__ == zscore_outliers.__doc__
    assert cls.__module__ == zscore_outliers.__module__
    assert cls.__qualname__ == zscore_outliers.__qualname__
    assert operator_doc(cls) == inspect.cleandoc(zscore_outliers.__doc__)


def test_required_keys_defaults_and_coercion():
    with pytest.raises(OperatorConfigError, match="zscore_outliers requires 'value_col'"):
        get_operator("zscore_outliers")()
    with pytest.raises(OperatorConfigError, match="zscore_outliers requires 'value_col'"):
        get_operator("zscore_outliers")(value_col="")
    op = get_operator("zscore_outliers")(value_col="v", threshold="2.5", group_cols=("g",))
    assert op.kwargs == {
        "value_col": "v", "group_cols": ["g"], "threshold": 2.5, "broadcast_stats": None,
    }
    # an explicit null takes the default of a non-optional parameter
    assert get_operator("zscore_outliers")(value_col="v", threshold=None).kwargs["threshold"] == 3.0


def test_explicit_null_passes_through_an_optional_parameter():
    assert inspect.signature(psi_drift).parameters["threshold"].default == 0.2
    op = get_operator("psi_drift")(value_col="v", edges=[1, 2])
    assert op.kwargs["threshold"] == 0.2
    op = get_operator("psi_drift")(value_col="v", edges=[1, 2], threshold=None)
    assert op.kwargs["threshold"] is None


def test_required_override_of_a_defaulted_parameter():
    with pytest.raises(OperatorConfigError, match="pagerank requires 'src'"):
        get_operator("pagerank")(dst="d")


def test_check_runs_at_construction():
    with pytest.raises(OperatorConfigError, match="ewma alpha must be in"):
        get_operator("ewma")(key_cols=["k"], order_cols=["t"], value_col="v", alpha=2)


def test_port_binding():
    op = get_operator("interval_join")(
        left_lo="a", left_hi="b", right_lo="c", right_hi="d", bucket_width=1
    )
    with pytest.raises(OperatorConfigError, match=r"left/right, got \['left', 'rigth'\]"):
        op.apply({"left": None, "rigth": None})
    with pytest.raises(OperatorConfigError, match=r"got \['left'\]"):
        op.apply({"left": None})
    lm = get_operator("lm_score")()
    with pytest.raises(OperatorConfigError, match=r"model optional\), got \['model'\]"):
        lm.apply({"model": None})
    # a one-port operator takes exactly one input, under any port name
    assert get_operator("near_dup_clusters").in_ports == ("pairs",)
    with pytest.raises(OperatorConfigError, match="exactly one input port"):
        get_operator("near_dup_clusters")().apply({})
