"""Streaming twin of the flagship W18 monthly→daily disaggregation.

The reference's EP2 flagship (N:450-452,631-635 — each day's share of
its month multiplied onto the monthly consumption target) re-expressed
incrementally: orders stream in, a complete-mode aggregation maintains
the per-day demand state (exact DECIMAL sums — additive, so the state
after any batch split equals the one-shot batch aggregate), and the
share/target arithmetic runs on the drained state with the SAME code
path as the batch query (queries/timeseries.py::disagg_from_daily), so
batch and stream can never drift.

Scale posture: aggregation state is keyed by calendar day — bounded
cardinality, independent of input rate.  The memory-sink drain is the
GATE-ONLY harness (bounded days × 1 row); a production deployment
routes the same additive state through the foreachBatch snapshot merge
of incremental_rollup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .source import stream_source


def daily_demand_stream(
    spark: SparkSession,
    orders_dir: str,
    glob: str = "orders.parquet",
    **options: str,
) -> DataFrame:
    """Streaming per-day demand: exact DECIMAL(18,2) sum of order totals
    keyed by order date — the additive state the disaggregation rides."""
    stream = stream_source(spark, orders_dir, glob, **options)
    return stream.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("demand")
    )


def run_disagg_daily_available_now(
    spark: SparkSession,
    orders_dir: str,
    glob: str = "orders.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the (static) orders directory through the streaming engine
    and return the final per-day demand state as a batch DataFrame."""
    from . import drain_available_now

    return drain_available_now(
        daily_demand_stream(
            spark,
            orders_dir,
            glob,
            maxFilesPerTrigger=max_files_per_trigger,
        ),
        "disagg",
    )
