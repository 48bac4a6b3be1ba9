"""The served component schemas (``plans.op_schemas``).

A bound operator's fields are derived from its function's signature;
``FIELD_NOTES`` adds only descriptions and enums.
"""

import json
from pathlib import Path
from typing import Any

import pytest
from pyspark.sql import Column

import etl_core_spark.plans.builder  # noqa: F401 - registers sources and sinks
from etl_core_spark.operators.base import BoundOperator, get_operator, operator_names
from etl_core_spark.plans.config import ComponentConfig
from etl_core_spark.plans.op_schemas import _json_type, bound_field_specs, component_schema

EXAMPLES = Path(__file__).resolve().parent.parent / "examples"
BOUND = [n for n in operator_names() if issubclass(get_operator(n), BoundOperator)]


def _props(name):
    return component_schema(name, "full")["properties"]


def test_bound_properties_are_the_signature_parameters():
    assert len(BOUND) >= 100
    bad = {}
    for name in BOUND:
        params = [param for param, *_ in get_operator(name).params]
        if list(_props(name)) != params:
            bad[name] = (list(_props(name)), params)
    assert bad == {}
    assert _props("zscore_outliers")["broadcast_stats"] == {"type": "boolean"}


def test_union_annotations():
    assert _props("bm25")["query"]["type"] == ["array", "string"]
    assert _props("bm25")["query"]["items"] == {"type": "string"}
    assert _props("densify_buckets")["step"]["type"] == "string"
    assert _props("interpolate")["step"]["type"] == "string"
    assert _props("pivot")["fill"] == {"type": "number", "default": 0}


def test_json_type_mapping():
    assert _json_type(dict[str, float] | None, "w") == ("object", None)
    assert _json_type(tuple[str, ...], "w") == ("array", {"type": "string"})
    assert _json_type(list[dict], "w") == ("array", {"type": "object"})
    assert _json_type(Column | int | float, "w") == ("number", None)
    for hint in (Any, Column, None, set[str]):
        with pytest.raises(TypeError, match="maps to no JSON type"):
            _json_type(hint, "w")


def test_required_key_shows_no_default():
    # src/dst default to "src"/"dst" in the signature, but required= makes a job name them
    schema = component_schema("pagerank", "full")
    assert {"src", "dst"} <= set(schema["required"])
    assert _props("pagerank")["src"] == {"type": "string"}
    for name in BOUND:
        props = _props(name)
        assert [k for k in get_operator(name).required if "default" in props[k]] == []


def test_every_signature_default_is_served():
    bad = []
    for name in BOUND:
        cls = get_operator(name)
        props = _props(name)
        for param, default, *_ in cls.params:
            if isinstance(default, tuple):
                default = list(default)
            if default is not None and param not in cls.required:
                if props[param].get("default") != default:
                    bad.append((name, param))
    assert bad == []
    assert _props("text_analysis")["metrics"]["default"][:2] == ["n_chars", "n_tokens"]


def test_notes_hold_only_descriptions_and_enums_of_bound_parameters():
    with pytest.raises(TypeError, match=r"zscore_outliers name no parameters \['thresold'\]"):
        bound_field_specs({"zscore_outliers": {"thresold": {"description": "typo"}}})
    with pytest.raises(TypeError, match=r"no bound operators \['filter'\]"):
        bound_field_specs({"filter": {"rule": {"description": "class operator"}}})
    with pytest.raises(TypeError, match="zscore_outliers.threshold may hold only"):
        bound_field_specs({"zscore_outliers": {"threshold": {"default": 2.0}}})
    specs = bound_field_specs({"zscore_outliers": {"threshold": {"enum": [2.0, 3.0]}}})
    assert specs["zscore_outliers"][2] == {
        "name": "threshold", "type": "number", "required": False, "hidden": False,
        "default": 3.0, "enum": [2.0, 3.0],
    }


def test_example_params_are_schema_properties():
    """Every key a shipped example sets is one the served schema
    describes (``context_id`` is resolved before the operator sees it)."""
    paths = sorted(EXAMPLES.glob("*.json"))
    assert len(paths) >= 30
    missing = []
    for path in paths:
        for comp in json.loads(path.read_text())["components"]:
            cfg = ComponentConfig.from_dict(comp)
            props = component_schema(cfg.comp_type, "full")["properties"]
            missing += [
                f"{path.name}:{cfg.name}.{key}"
                for key in cfg.params
                if key not in props and key != "context_id"
            ]
    assert missing == []
