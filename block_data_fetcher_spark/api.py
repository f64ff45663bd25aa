"""Central query/oracle registry.

Aggregates every operator module's ``q_*`` functions and ``ORACLE``
SQL into the two dicts the driver consumes through
``__spark_entry__.py``. Adding an operator = adding its module here.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict

from pyspark.sql import DataFrame, SparkSession

import functools

from . import pipelines, storage
from .functions import audio, hashing, multimodal, similarity, text, web
from .session import tune
from .sources import formats
from .operators import (
    analytics,
    spatial,
    classify,
    etl_queries,
    graph,
    json_ops,
    relational,
    scalar_funcs,
    tpch,
    windows,
)
from .streaming import jobs as streaming_jobs

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = [relational, json_ops, classify, windows, analytics, graph, tpch, text, similarity, hashing, multimodal, audio, web, streaming_jobs, pipelines, etl_queries, scalar_funcs, spatial, formats, storage]


def _tuned(fn: QueryFn) -> QueryFn:
    """Every catalog entry pins engine session conf (UTC timezone, AQE)
    before building its plan: the driver calls these with its OWN
    SparkSession, and a non-UTC session timezone would shift every
    collected timestamp against the DuckDB oracle (which reads the
    same parquet instants as naive UTC)."""

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        tune(spark)
        return fn(spark, sf_dir)

    return wrapped


def _collect() -> tuple[Dict[str, QueryFn], Dict[str, str]]:
    queries: Dict[str, QueryFn] = {}
    oracles: Dict[str, str] = {}
    for mod in _MODULES:
        for name in dir(mod):
            if name.startswith("q_"):
                fn = getattr(mod, name)
                if callable(fn):
                    if name in queries:
                        raise ValueError(f"duplicate query name {name}")
                    queries[name] = _tuned(fn)
        for name, sql in getattr(mod, "ORACLE", {}).items():
            if name in oracles:
                raise ValueError(f"duplicate oracle name {name}")
            oracles[name] = sql
    return queries, oracles


def queries() -> Dict[str, QueryFn]:
    return _collect()[0]


def oracle_sql() -> Dict[str, str]:
    return _collect()[1]
