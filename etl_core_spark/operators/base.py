"""Operator protocol and registry.

The reference registers Component subclasses by name
(``src/etl_core/components/component_registry.py:45-65``) and wires
them into a DAG with typed ports. Here an operator is a config-holding
object with one method::

    apply(inputs: Dict[in_port, DataFrame]) -> Dict[out_port, DataFrame]

Operators are lazy plan rewrites — stacking them composes one
Catalyst plan, so the optimizer sees through the whole job DAG
(filter pushdown across a mapping node, column pruning across a join,
etc.), which the reference's per-component asyncio workers structurally
cannot do.

Most operators are one module-level function: :func:`bind_operator`
builds their Operator class from the function's signature, so ports,
config keys, defaults, required keys and coercions are declared once.
"""

from __future__ import annotations

import abc
import inspect
import sys
import types
from typing import Any, Callable, Dict, Type, Union, get_args, get_origin, get_type_hints

from pyspark.sql import DataFrame

PortMap = Dict[str, DataFrame]

_REGISTRY: dict[str, Type["Operator"]] = {}


class OperatorConfigError(ValueError):
    """Invalid operator configuration (build-time, pre-execution)."""


class Operator(abc.ABC):
    """A plan-builder node: Dict[in_port, DF] -> Dict[out_port, DF]."""

    #: declared port names; "many" fan-in/out handled by the builder
    in_ports: tuple[str, ...] = ("in",)
    out_ports: tuple[str, ...] = ("out",)

    def __init__(self, **config: Any) -> None:
        self.config = config
        self.validate_config()

    def validate_config(self) -> None:  # pragma: no cover - override hook
        """Build-time config validation (≈ the reference's pydantic
        validators); raise OperatorConfigError on bad config."""

    @abc.abstractmethod
    def apply(self, inputs: PortMap) -> PortMap:
        ...

    def single_input(self, inputs: PortMap) -> DataFrame:
        if len(inputs) != 1:
            raise OperatorConfigError(
                f"{type(self).__name__} expects exactly one input port, "
                f"got {sorted(inputs)}"
            )
        return next(iter(inputs.values()))


def register_operator(name: str) -> Callable[[Type[Operator]], Type[Operator]]:
    def deco(cls: Type[Operator]) -> Type[Operator]:
        if name in _REGISTRY:
            raise ValueError(f"operator {name!r} already registered")
        # guard against the decorator landing on a bare function when code
        # is inserted between @register_operator and its class (the r7
        # similarity_search accident) — fail at import time, not job time
        if not (isinstance(cls, type) and issubclass(cls, Operator)):
            raise TypeError(
                f"register_operator({name!r}) target must be an Operator "
                f"subclass, got {cls!r}"
            )
        _REGISTRY[name] = cls
        cls.registry_name = name  # type: ignore[attr-defined]
        return cls

    return deco


def get_operator(name: str) -> Type[Operator]:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise OperatorConfigError(
            f"unknown operator {name!r}; known: {sorted(_REGISTRY)}"
        ) from None


def operator_names() -> list[str]:
    return sorted(_REGISTRY)


def ensure(condition: bool, message: str) -> None:
    """Raise OperatorConfigError(message) unless condition holds."""
    if not condition:
        raise OperatorConfigError(message)


def operator_doc(cls: Type[Operator]) -> str:
    """The operator's own documentation: its class docstring (a bound
    operator's is its function's), else its module's — never one
    inherited from a base class."""
    doc = cls.__dict__.get("__doc__") or sys.modules[cls.__module__].__doc__
    return inspect.cleandoc(doc) if doc else ""


_COERCIBLE = (int, float, bool, str, list, tuple)


def _unwrap_optional(hint: Any) -> tuple[Any, bool]:
    """(``X`` of an ``X | None`` hint, else the hint; whether it admits None)."""
    args = get_args(hint) if get_origin(hint) in (Union, types.UnionType) else ()
    if type(None) not in args:
        return hint, False
    rest = [a for a in args if a is not type(None)]
    return (rest[0] if len(rest) == 1 else hint), True


def _missing(value: Any) -> bool:
    return value is None or (isinstance(value, (str, list, tuple, dict)) and not value)


class BoundOperator(Operator):
    """Base of the classes :func:`bind_operator` generates: in-ports
    bind to the function's DataFrame parameters, config keys to the
    others by name, and ``apply`` is one call of the function."""

    #: (port, parameter, optional) per in-port
    ports: tuple[tuple[str, str, bool], ...]
    #: (parameter, signature default, coercion type or None, nullable)
    params: tuple[tuple[str, Any, type | None, bool], ...]
    #: config keys a job must give (non-empty)
    required: tuple[str, ...]
    #: the bound function (a staticmethod)
    function: Callable[..., DataFrame]
    registry_name: str

    @staticmethod
    def check(**kwargs: Any) -> None:
        """Value checks over the bound arguments (set per class)."""

    def validate_config(self) -> None:
        name, config = self.registry_name, self.config
        kwargs: dict[str, Any] = {}
        for param, default, coerce, nullable in self.params:
            value = config.get(param)
            if param in self.required and _missing(value):
                raise OperatorConfigError(f"{name} requires {param!r}")
            if value is None and not (nullable and param in config):
                kwargs[param] = default
            else:
                kwargs[param] = value if value is None or coerce is None else coerce(value)
        self.check(**kwargs)
        self.kwargs = kwargs

    def apply(self, inputs: PortMap) -> PortMap:
        if len(self.ports) == 1:
            frames = {self.ports[0][1]: self.single_input(inputs)}
        else:
            needed = {port for port, _, optional in self.ports if not optional}
            if not needed <= set(inputs) <= set(self.in_ports):
                optional = [port for port, _, opt in self.ports if opt]
                raise OperatorConfigError(
                    f"{self.registry_name} takes ports {'/'.join(self.in_ports)}"
                    + (f" ({'/'.join(optional)} optional)" if optional else "")
                    + f", got {sorted(inputs)}"
                )
            frames = {param: inputs.get(port) for port, param, _ in self.ports}
        return {"out": self.function(**frames, **self.kwargs)}


def bind_operator(
    name: str,
    *,
    in_ports: tuple[str, ...] = ("in",),
    required: tuple[str, ...] = (),
    check: Callable[..., None] | None = None,
) -> Callable[[Callable[..., DataFrame]], Callable[..., DataFrame]]:
    """Register operator ``name`` as one call of the decorated function,
    which is returned unchanged.

    - ``in_ports`` bind, in order, to the function's DataFrame
      parameters; one typed ``DataFrame | None`` is an optional port.
    - Every other parameter binds the config key of the same name; a
      missing key (or null) takes the signature default. Values are
      coerced by annotation (int, float, bool, str, list, tuple), and
      ``X | None`` passes an explicit null through.
    - Parameters without a default, plus ``required``, must be given
      non-empty; otherwise construction raises ``"<name> requires
      '<key>'"``.
    - ``check(**bound_arguments)`` runs at construction, for value
      checks that must fail before the job runs.
    """

    def deco(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
        hints = get_type_hints(fn)
        frames: list[tuple[str, bool]] = []
        params: list[tuple[str, Any, type | None, bool]] = []
        needed: list[str] = []
        for p in inspect.signature(fn).parameters.values():
            hint, nullable = _unwrap_optional(hints.get(p.name))
            if hint is DataFrame:
                frames.append((p.name, nullable))
                continue
            base = get_origin(hint) or hint
            if p.default is inspect.Parameter.empty or p.name in required:
                needed.append(p.name)
            default = None if p.default is inspect.Parameter.empty else p.default
            params.append((p.name, default, base if base in _COERCIBLE else None, nullable))
        if len(frames) != len(in_ports):
            raise TypeError(
                f"{fn.__qualname__} has {len(frames)} DataFrame parameters for in_ports {in_ports}"
            )
        unknown = set(required) - set(needed)
        if unknown:
            raise TypeError(f"{fn.__qualname__} has no parameters {sorted(unknown)}")
        namespace = {
            "__doc__": fn.__doc__,
            "__module__": fn.__module__,
            "__qualname__": fn.__qualname__,
            "in_ports": tuple(in_ports),
            "ports": tuple((port, *frame) for port, frame in zip(in_ports, frames)),
            "params": tuple(params),
            "required": tuple(needed),
            "function": staticmethod(fn),
        }
        if check is not None:
            namespace["check"] = staticmethod(check)
        register_operator(name)(type(fn.__name__, (BoundOperator,), namespace))
        return fn

    return deco
