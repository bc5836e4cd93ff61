"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship multi-metric snapshot on sf0.001;
``queries()`` exposes one entry per implemented SURVEY §2 operator;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each (omitted for
non-SQL-expressible ops, which get a rows-only check).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from alphastats_spark.registry import build_registry  # noqa: E402
from alphastats_spark.registry.shared import load_returns  # noqa: E402

_QUERIES, _ORACLES = build_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: one-pass multi-metric snapshot over sf0.001 returns."""
    from alphastats_spark import expressions as X
    from alphastats_spark.operators import ordered

    rets = load_returns(spark, "/root/testdata/sf0.001")
    rets = ordered.with_order(rets, "d")
    rets = ordered.add_drawdown_columns(rets, {"dd": "r"})
    spec = X.Spec(v="r", dd="dd")
    outputs = {
        "n_days": "n_obs", "total_return": "comp", "cagr": "cagr", "sharpe": "sharpe",
        "sortino": "sortino", "volatility": "volatility", "max_drawdown": "max_drawdown",
        "win_rate": "win_rate", "profit_factor": "profit_factor", "tail_ratio": "tail_ratio",
    }
    return X.project(rets, {out: (name, spec) for out, name in outputs.items()})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents for the queries above."""
    return dict(_ORACLES)
