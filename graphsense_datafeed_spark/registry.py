"""Central operator/query registry — the driver-contract surface.

Every operator the engine implements registers here with:

- a query id (the SURVEY.md §2 row id — e.g. ``join_asof``),
- a callable ``(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle.

``__spark_entry__.py`` simply re-exports this registry; the driver's t2
gate runs both sides at sf0.01 and hash-compares (SURVEY.md §0.1).
Column names must match exactly between the two sides — alias every
computed column on both.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(qid: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the implementation of SURVEY §2 row ``qid``.

    ``oracle`` is the DuckDB SQL string for the t2 hash-match; omit it
    only for genuinely non-SQL-expressible operators (the driver then
    records a weaker rows-only check — SURVEY.md §2's ✖ rows).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if qid in QUERIES:
            raise ValueError(f"duplicate query id: {qid}")
        QUERIES[qid] = fn
        if oracle is not None:
            ORACLES[qid] = " ".join(oracle.split())
        return fn

    return deco


# Modules whose import registers operators. Registration order is
# import order and carries no meaning: every caller looks a query up by
# its id.
_OPERATOR_MODULES = (
    "graphsense_datafeed_spark.operators.aggregates",
    "graphsense_datafeed_spark.operators.windows",
    "graphsense_datafeed_spark.operators.sort_limit",
    "graphsense_datafeed_spark.operators.setops",
    "graphsense_datafeed_spark.functions.strings",
    "graphsense_datafeed_spark.functions.dates",
    "graphsense_datafeed_spark.functions.math_cond",
    "graphsense_datafeed_spark.functions.collections",
    "graphsense_datafeed_spark.functions.udfs",
    "graphsense_datafeed_spark.operators.llm_text",
    "graphsense_datafeed_spark.operators.llm_dedup",
    "graphsense_datafeed_spark.operators.llm_similarity",
    "graphsense_datafeed_spark.operators.multimodal",
    "graphsense_datafeed_spark.ingest.facade",
    "graphsense_datafeed_spark.operators.subqueries",
    "graphsense_datafeed_spark.streaming.windows",
    "graphsense_datafeed_spark.streaming.stateful",
    "graphsense_datafeed_spark.plans.flagship",
    "graphsense_datafeed_spark.plans.goldens2",
    "graphsense_datafeed_spark.plans.goldens3",
    "graphsense_datafeed_spark.plans.goldens4",
    "graphsense_datafeed_spark.ingest.graphstats",
    "graphsense_datafeed_spark.operators.datamgmt",
    "graphsense_datafeed_spark.operators.timeseries",
    "graphsense_datafeed_spark.operators.ir_index",
    "graphsense_datafeed_spark.sources.scans",
    "graphsense_datafeed_spark.operators.rowops",
    "graphsense_datafeed_spark.operators.joins",
)

_loaded = False


def load_all_operators() -> None:
    """Import every operator module once, filling ``QUERIES`` and
    ``ORACLES``."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True
