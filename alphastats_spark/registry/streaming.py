"""Streaming family: Structured Streaming operators against batch oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alphastats_spark import expressions as X
from alphastats_spark.registry.shared import (
    BENCH_CTE,
    DD_CTE,
    RETURNS_CTE,
    ROUND,
    _gate_stream,
    _round_df,
    load_long_frame,
    load_returns,
)
from alphastats_spark.streaming import rolling_metrics, streaming_drawdowns


def register(add) -> None:
    """Register the streaming operators through ``add(name, query, oracle)``.

    ``streaming_drawdowns`` genuinely runs through Structured Streaming
    (file source → applyInPandasWithState → memory sink) and its per-row
    output is SQL-expressible, so it gets a full DuckDB oracle — the
    strongest check a stateful streaming op can have. ``rolling_metrics``
    shares one code path between batch and streaming; the gate runs the
    batch plan (identical expressions) against a bucketed-window oracle.
    """

    def _stream_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
        tbl, _ = _gate_stream(
            spark, [load_returns(spark, sf_dir)], "d date, r double",
            lambda stream, _: streaming_drawdowns(stream, temporal="d"),
            "as_stream_dd_",
        )
        return _round_df(
            tbl.select(F.col("d").cast("string").alias("d"), F.col("r_dd").alias("dd"))
        )

    add(
        "streaming_drawdowns",
        _stream_dd,
        f"{RETURNS_CTE}{DD_CTE}\nSELECT CAST(d AS VARCHAR) AS d, ROUND(dd, {ROUND}) AS dd FROM dds",
    )

    # Keyed variant — the 100 TB shape: state and work partition across
    # asset keys, so no single state group funnels the whole stream. The
    # keyless query above matches the reference's single-series semantics
    # and is documented small-scale-only.
    def _stream_dd_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
        tbl, _ = _gate_stream(
            spark, [load_long_frame(spark, sf_dir)], "asset string, d date, r double",
            lambda stream, _: streaming_drawdowns(stream, key_col="asset", temporal="d"),
            "as_stream_ddk_",
        )
        return _round_df(tbl.select(
            "asset", F.col("d").cast("string").alias("d"), F.col("r_dd").alias("dd")
        ))

    add(
        "streaming_drawdowns_keyed",
        _stream_dd_keyed,
        f"""{RETURNS_CTE}{BENCH_CTE},
long_f AS (
  SELECT 'a' AS asset, d, r FROM rets
  UNION ALL
  SELECT 'b' AS asset, d, b AS r FROM bres
),
kwealth AS (
  SELECT asset, d, r,
         EXP(SUM(LN(1 + r)) OVER (PARTITION BY asset ORDER BY d)) AS w
  FROM long_f
),
kdds AS (
  SELECT asset, d,
         LEAST(w / MAX(w) OVER (PARTITION BY asset ORDER BY d) - 1, 0) AS dd
  FROM kwealth
)
SELECT asset, CAST(d AS VARCHAR) AS d, ROUND(dd, {ROUND}) AS dd FROM kdds""",
    )

    def _rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = rolling_metrics(
            load_returns(spark, sf_dir),
            "30 days",
            metrics={
                "comp": lambda c: X.column("comp", c),
                "volatility": lambda c: X.column("volatility", c),
                "n_obs": lambda c: F.count(c).cast("long"),
            },
        )
        return _round_df(
            out.select(
                F.col("window_start").cast("date").cast("string").alias("ws"),
                F.col("r_comp").alias("comp"),
                F.col("r_volatility").alias("volatility"),
                F.col("r_n_obs").alias("n_obs"),
            )
        )

    add(
        "rolling_metrics_30d",
        _rolling,
        f"""{RETURNS_CTE}
SELECT CAST(ws_d AS VARCHAR) AS ws, comp, volatility, n_obs FROM (
SELECT
  DATE '1970-01-01'
    + CAST(FLOOR(DATE_DIFF('day', DATE '1970-01-01', d) / 30) * 30 AS INTEGER) AS ws_d,
  ROUND(EXP(SUM(LN(1 + r))) - 1, {ROUND}) AS comp,
  ROUND(STDDEV_SAMP(r) * SQRT(252), {ROUND}) AS volatility,
  COUNT(r) AS n_obs
FROM rets GROUP BY 1) t""",
    )


