"""Workload definitions: datasets, queries and sink of each workload.

A dataset is the name of a directory under ``perfbench/data``: a copy of
the engine's testdata (``TESTDATA.md``) at that scale factor, checked
against ``DATA_SUMS``.  Datasets are fixed, so the benchmark's ``--seed``
changes only the order of the executions in a pass (and, with several
datasets, their interleaving), never the data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# sha256 of every table file, checked before a run
DATA_SUMS = os.path.join(DATA_ROOT, "SHA256SUMS")


@dataclass(frozen=True)
class Workload:
    datasets: tuple[str, ...]
    queries: tuple[str, ...]
    # "write": parquet files under the run dir; "collect": rows to the driver
    sink: str


WORKLOADS: dict[str, Workload] = {
    # The paper's own domain: scans, joins, windows and exchanges, the
    # pandas-UDF forecasting family and an availableNow streaming drain,
    # each ending in a parquet write.  No shared frames, no iterative loops.
    "etl_forecast": Workload(
        datasets=("sf0.01",),
        queries=(
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "ts_anomaly_zscore",
            "m20_holt_smoothing",
            "stream_w18_disaggregation",
        ),
        sink="write",
    ),
    # Interactive traffic over an sf0.01 and an sf0.001 dataset in one
    # session, collected to the driver: ANN and rerank lookups over shared
    # frames (3 tags per dataset, so the cache holds them all) and a
    # pair-explode join.  Per-query fixed cost (planning, scheduling,
    # collect) outweighs data volume.
    "mixed_sessions": Workload(
        datasets=("sf0.01", "sf0.001"),
        queries=(
            "sim_sq8_topk",
            "sim_mmr_rerank",
            "a_basket_pairs",
        ),
        sink="collect",
    ),
}


def dataset_dir(name: str) -> str:
    return os.path.join(DATA_ROOT, name)
