"""Staged stores: expensive intermediates built once per (Spark
application, sf_dir) and read by every query that needs them.

A store is declared by decorating its build function with ``@staged``.
The decorated function keeps the build's name and ``(spark, sf_dir)``
signature and is registered under that name without its leading
underscore (``_journeys`` -> ``"journeys"``).  The first call builds and
records the value; later calls with the same application and ``sf_dir``
return the identical object.  Entries are keyed by ``applicationId``,
never ``id(spark)``: CPython can reuse a dead session's id for a new one,
which would hand out handles bound to a stopped context.  A miss first
evicts every entry left by another application, so a long-lived process
that hosts several applications in sequence (a test runner) does not
accumulate them.  Builds are not synchronized: call accessors from the
main thread (queries that use thread pools build their stores before
submitting work).

A value is a DataFrame (``localCheckpoint``'d or ``.cache()``'d), a
tuple of DataFrames, or plain Python data.  ``_free`` is the one
eviction path.  ``Dataset.unpersist()`` only drops ``.cache()`` entries;
localCheckpoint blocks live on the checkpointed RDD under the plan's
``LogicalRDD`` leaf, so that RDD is unpersisted as well.

At production scale each store is a table written once at ingest and
read by every downstream model.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable
from typing import Any, TypeVar

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_ACCESSORS: dict[str, Callable[[SparkSession, str], Any]] = {}
# (store name, applicationId, sf_dir) -> built value
_ENTRIES: dict[tuple[str, str, str], Any] = {}


def staged(build: Callable[[SparkSession, str], T]) -> Callable[[SparkSession, str], T]:
    """Declare ``build`` as a staged store; see the module docstring."""
    name = build.__name__.lstrip("_")

    @functools.wraps(build)
    def accessor(spark: SparkSession, sf_dir: str) -> T:
        app_id = spark.sparkContext.applicationId
        key = (name, app_id, sf_dir)
        if key not in _ENTRIES:
            _drop([k for k in _ENTRIES if k[1] != app_id])
            _ENTRIES[key] = build(spark, sf_dir)
        return _ENTRIES[key]

    _ACCESSORS[name] = accessor
    return accessor


def stores() -> dict[str, Callable[[SparkSession, str], Any]]:
    """Every declared store's accessor by name, in declaration order."""
    return dict(_ACCESSORS)


def clear(*names: str) -> None:
    """Drop and free every entry of the named stores, or of all stores
    when no name is given."""
    _drop([k for k in _ENTRIES if not names or k[0] in names])


def _drop(keys: Iterable[tuple[str, str, str]]) -> None:
    for key in keys:
        _free(_ENTRIES.pop(key))


def _free(value: Any) -> None:
    for df in value if isinstance(value, (tuple, list)) else (value,):
        if not isinstance(df, DataFrame):
            continue  # plain Python data: nothing on the cluster to free
        try:
            leaves = df._jdf.queryExecution().logical().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    leaf.rdd().unpersist(False)
            df.unpersist()
        except Py4JError:
            pass  # stopped application: its blocks went with it
