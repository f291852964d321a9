"""Tests of the benchmark's own code: event-log fold, output check, the
shared-frame counter and the host-speed factor.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.check import digest  # noqa: E402
from perfbench.hostspeed import REFERENCE_LOOP_S, SpeedLog, split_cpus  # noqa: E402
from perfbench.registry import load_registry  # noqa: E402
from perfbench.spec import dataset_dir  # noqa: E402
from perfbench.trace import FrameCacheCounter, fold_event_log, job_tag  # noqa: E402
from perfbench.workload import Runner  # noqa: E402


@pytest.fixture(scope="module")
def dataset():
    return dataset_dir("sf0.001")


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from energy_consumption_forecasting_spark import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = get_spark(
        "perfbench-tests",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.local.dir": str(tmp_path_factory.mktemp("local")),
        },
    )
    yield spark, str(log_dir)
    spark.stop()


def test_fold_yields_one_record_per_query_phase(traced_spark, dataset):
    spark, log_dir = traced_spark
    queries, _ = load_registry()
    sc = spark.sparkContext
    label = "tpch_q6_revenue_change@sf0.001#0"
    sc.setJobDescription(job_tag(label, "construct"))
    df = queries["tpch_q6_revenue_change"](spark, dataset)
    sc.setJobDescription(job_tag(label, "execute"))
    rows = df.collect()
    sc.setJobDescription(None)
    assert len(rows) == 1

    folded = fold_event_log(log_dir, windows=[])
    rec = folded[(label, "execute")]
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
    assert rec["input_records"] > 0 and rec["executor_run_s"] >= 0
    assert rec.get("task_failures", 0) == 0
    for key in ("shuffle_write_bytes", "input_bytes", "gc_s", "executor_cpu_s"):
        assert key in rec


def test_frame_counter_counts_builds_on_a_fresh_session(traced_spark, dataset):
    spark, _ = traced_spark
    queries, _ = load_registry()
    counter = FrameCacheCounter()
    counter.install()
    queries["sim_sq8_topk"](spark, dataset).collect()
    first = counter.snapshot()
    assert first["builds"] > 0 and first["calls"] >= first["builds"]
    queries["sim_sq8_topk"](spark, dataset).collect()
    second = counter.snapshot()
    assert second["calls"] > first["calls"]
    assert second["builds"] == first["builds"]  # the second call hits
    assert counter.entries() > 0


def test_digest_is_order_insensitive_and_catches_a_perturbation():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    assert digest(cols, rows) == digest(["V", "K"], [(v, k) for k, v in reversed(rows)])
    perturbed = [(1, 0.5), (2, 1.2500001), (3, None)]
    assert digest(cols, perturbed) != digest(cols, rows)
    assert digest(cols, rows[:2])["rows"] == 2


def test_check_flags_a_perturbed_result():
    args = types.SimpleNamespace(workload="mixed_sessions", run_dir="unused", traced=0)
    runner = Runner(args, types.SimpleNamespace(sparkContext=None), {}, None)
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.25)]
    goldens = {"sf0.001": {"q": digest(cols, rows)}}

    good = {"ok": True, "dataset": "sf0.001", "query": "q", "output": (cols, rows)}
    runner.check(good, goldens)
    assert good["ok"] and good["checked"]

    bad = {"ok": True, "dataset": "sf0.001", "query": "q", "output": (cols, [(1, 0.5), (2, 1.5)])}
    runner.check(bad, goldens)
    assert not bad["ok"] and "mismatch" in bad["error"]


def test_speed_factor_scales_wall_time_to_the_reference_loop():
    log = SpeedLog()
    ref = REFERENCE_LOOP_S
    log.samples = [(10.0, ref), (11.0, 2 * ref), (12.0, 2 * ref)]
    assert log.factor(9.5, 10.5) == pytest.approx(1.0)
    # a host at half the reference speed: its wall seconds count half
    assert log.factor(10.5, 12.5) == pytest.approx(0.5)
    # a span between samples takes the nearest one
    assert log.factor(12.2, 12.3) == pytest.approx(0.5)
    log.sample()
    assert log.samples[-1][1] > 0


def test_sampler_cpu_is_kept_from_the_workload():
    work, sampler = split_cpus()
    assert sampler and work
    if len(os.sched_getaffinity(0)) > 1:
        assert not work & sampler
