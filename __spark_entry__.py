"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle, in the order
``php_etl_spark.driver_order`` derives from the driver's ledgers.
Implementation lives in ``php_etl_spark`` (this file only wires the
contract).
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from php_etl_spark.session import tune_session  # noqa: E402
from php_etl_spark import driver_order  # noqa: E402
from php_etl_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    tune_session(spark)
    return Q.QUERIES["agg_groupby_sum"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(Q.QUERIES[name]) for name in _order()}


def oracle_sql() -> dict[str, str]:
    return {name: Q.ORACLES[name] for name in _order() if name in Q.ORACLES}


@functools.cache
def _order() -> list[str]:
    return driver_order.order(Q.QUERIES, Q.ORACLES)
