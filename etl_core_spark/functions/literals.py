"""Literal lists sent to the JVM in one Py4J round trip.

``Column.isin(*values)`` builds one JVM ``lit`` per value: three round
trips each (two reflection lookups and the call), plus one per value
to fill the ``Seq`` it passes. A rule's value list or the cast
ladders' null-marker set then costs ~25 round trips per ``isin``.
``isin`` here pickles the values, unpickles them in the JVM in one
call (the SerDe PySpark's ML bridge uses), and hands that list to
``Column.isInCollection``: the same ``In`` expression, so the same
three-valued NULL logic (NULL input, or no match against a list
holding NULL, gives NULL), optimizer rewrites and scan pushdown.
"""

from __future__ import annotations

import functools
import pickle
from typing import Any, Iterable

from pyspark import SparkContext
from pyspark.sql import Column

#: types that unpickle in the JVM to what Py4J sends for the same
#: value: String, Integer or Long, Double, Boolean. Anything else
#: (dates, decimals, ints beyond 64 bits) takes ``Column.isin``.
_PICKLED = (str, int, float, bool)


@functools.lru_cache(maxsize=None)
def _loads(jvm):
    return getattr(jvm, "org.apache.spark.mllib.api.python.SerDe").loads


def _picklable(v: Any) -> bool:
    if v is None:
        return True
    if type(v) is int:
        return -(2**63) <= v < 2**63
    return type(v) in _PICKLED


def isin(col: Column, values: Iterable[Any]) -> Column:
    """``col.isin(*values)`` with the whole list in one round trip."""
    values = list(values)
    if not all(_picklable(v) for v in values):
        return col.isin(values)
    jvm = SparkContext._active_spark_context._jvm
    jvalues = _loads(jvm)(bytearray(pickle.dumps(values, protocol=2)))
    return Column(col._jc.isInCollection(jvalues))
