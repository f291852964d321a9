"""One workload process: set up a session, run closed-loop passes, check outputs.

Started by ``perfbench/run.py`` once per measurement, with the checkout
under test first on ``PYTHONPATH``.  A single driver thread issues the
next query only after the previous one returned.  A cold first pass and
the workload's untimed warm passes come before the steady passes, which
run for ``--seconds``.  Writes its result as JSON to ``--out``.

Untraced, each execution is timed from the call of the registered query
callable to the return of its sink.  Traced, each execution is split into
construct, plan (``queryExecution().executedPlan()``) and execute, each
under the job description ``q:<query>@<dataset>#<pass>:<phase>``; the
Spark event log and the shared-frame counter then attribute the work to
those phases.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import sys
import time
import traceback

from perfbench.check import digest
from perfbench.registry import load_registry
from perfbench.spec import WORKLOADS
from perfbench.trace import FrameCacheCounter, fold_event_log, job_tag

# untimed passes between the cold first pass and the steady passes: on a
# 4-core host, passes stop getting faster after about this many
WARM_PASSES = 2
MIN_STEADY_PASSES = 3
MAX_STEADY_PASSES = 20


def pass_order(executions: list, seed: int) -> list:
    """The executions in the order the seed gives them.

    Every steady pass of a run repeats this order, so the shared-frame
    cache sees the same access pattern in every pass.  The cold first pass
    keeps the listed order instead: the first queries of a fresh JVM shape
    what its JIT compiles, and with the streaming drain first, every later
    pass of etl_forecast ran about 30% slower on a 4-core host."""
    order = list(executions)
    random.Random(seed).shuffle(order)
    return order


def jvm_live_mb(spark) -> float:
    """JVM memory the driver holds: heap in use after a full GC plus
    non-heap in use (metaspace, code cache), in MiB."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / (1024.0 * 1024.0)


def _dir_files(path: str) -> list[str]:
    return [
        os.path.join(path, n)
        for n in sorted(os.listdir(path))
        if n.endswith(".parquet") and not n.startswith(".")
    ]


def _read_back(path: str) -> tuple[list[str], list[tuple]]:
    import pyarrow.parquet as pq

    table = pq.read_table(_dir_files(path))
    cols = table.column_names
    return cols, list(zip(*(table.column(c).to_pylist() for c in cols)))


class Runner:
    def __init__(self, args, spark, queries: dict, counter: FrameCacheCounter | None):
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.counter = counter
        self.spec = WORKLOADS[args.workload]
        self.sink_root = os.path.join(args.run_dir, "sink")
        self.windows: list[tuple[str, str, float, float]] = []
        self.records: list[dict] = []

    def sink(self, df, label: str):
        """Run the workload's sink; returns ``(columns, rows)`` of a collect
        or the output directory of a write."""
        if self.spec.sink == "collect":
            return df.columns, df.collect()
        path = os.path.join(self.sink_root, label.split("#")[0])
        df.write.mode("overwrite").parquet(path)
        return path

    def execute(self, query: str, ds: str, pass_idx: int) -> dict:
        label = f"{query}@{ds}#{pass_idx}"
        path = self.args.datasets[ds]
        fn = self.queries[query]
        rec: dict = {"pass": pass_idx, "query": query, "dataset": ds, "label": label}
        traced = self.args.traced
        frame0 = self.counter.snapshot() if self.counter else None
        try:
            if not traced:
                t0 = time.perf_counter()
                out = self.sink(fn(self.spark, path), label)
                rec["latency_s"] = time.perf_counter() - t0
            else:
                marks = []
                for phase in ("construct", "plan", "execute"):
                    self.sc.setJobDescription(job_tag(label, phase))
                    start_ms, t0 = time.time() * 1000.0, time.perf_counter()
                    if phase == "construct":
                        df = fn(self.spark, path)
                    elif phase == "plan":
                        df._jdf.queryExecution().executedPlan()
                    else:
                        out = self.sink(df, label)
                    marks.append(time.perf_counter() - t0)
                    self.windows.append((label, phase, start_ms, time.time() * 1000.0))
                self.sc.setJobDescription(None)
                rec.update(construct_s=marks[0], plan_s=marks[1], execute_s=marks[2])
                # A parquet write plans the query again inside its own
                # command, so the plan timed above is extra work there and
                # its real planning is part of execute_s.
                extra = marks[1] if self.spec.sink == "write" else 0.0
                rec["latency_s"] = sum(marks) - extra
            rec["ok"] = True
            rec["output"] = out
        except Exception as exc:  # a failed query is counted, the run goes on
            if traced:
                self.sc.setJobDescription(None)
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            traceback.print_exc()
        if frame0 is not None:
            now = self.counter.snapshot()
            rec["frame"] = {k: now[k] - frame0[k] for k in now}
        return rec

    def check(self, rec: dict, goldens: dict) -> None:
        """Compare one execution's output with its golden, outside any timer."""
        out = rec.pop("output", None)
        if not rec["ok"]:
            return
        want = goldens.get(rec["dataset"], {}).get(rec["query"])
        if isinstance(out, str):
            cols, rows = _read_back(out)
            if self.args.traced:
                files = _dir_files(out)
                rec["write_files"] = len(files)
                rec["write_bytes"] = sum(os.path.getsize(f) for f in files)
        else:
            cols, rows = out
        got = digest(cols, rows)
        rec["rows"] = got["rows"]
        rec["checked"] = True
        if want is None:
            rec["ok"] = False
            rec["error"] = "no golden for this query and dataset"
        elif got != want:
            rec["ok"] = False
            rec["error"] = f"output mismatch: got {got}, want {want}"

    def cached_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def run_passes(self, goldens: dict) -> list[dict]:
        executions = [(q, ds) for q in self.spec.queries for ds in self.args.datasets]
        order = pass_order(executions, self.args.seed)
        warm = WARM_PASSES
        passes: list[dict] = []
        steady_start = None
        while True:
            idx = len(passes)
            frame0 = self.counter.snapshot() if self.counter else None
            recs = []
            start = time.time()
            for q, ds in order if idx else executions:
                rec = self.execute(q, ds, idx)
                if idx == 0:
                    self.check(rec, goldens)
                recs.append(rec)
            info = {
                "pass": idx,
                # the cold pass and the warm passes after it are not steady
                "steady": idx > warm,
                "wall_s": sum(r.get("latency_s", 0.0) for r in recs),
                "loadavg": os.getloadavg()[0],
                # wall-clock span, matched to the host-speed samples
                "start": start,
                "end": time.time(),
            }
            if self.counter:
                now = self.counter.snapshot()
                info["frame"] = {k: now[k] - frame0[k] for k in now}
                info["frame"]["entries"] = self.counter.entries()
                info["cached_bytes"] = self.cached_bytes()
            if idx <= warm:
                # read after the cold and the warm passes, which every run
                # has, and never between timed steady passes
                info["jvm_live_mb"] = jvm_live_mb(self.spark)
            passes.append(info)
            # only the first and the last pass are checked; drop older outputs
            for rec in self.records:
                rec.pop("output", None)
            self.records.extend(recs)
            if idx <= warm:
                steady_start = time.perf_counter()
                continue
            n_steady = idx - warm
            elapsed = time.perf_counter() - steady_start
            if n_steady >= MAX_STEADY_PASSES or (
                n_steady >= MIN_STEADY_PASSES and elapsed >= self.args.seconds
            ):
                break
        # the last pass's outputs are still in memory (collect) or on disk (write)
        last = len(passes) - 1
        for rec in self.records:
            if rec["pass"] == last:
                self.check(rec, goldens)
        return passes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--datasets", required=True, help="JSON {name: directory}")
    ap.add_argument("--goldens", required=True, help="JSON file {dataset: {query: digest}}")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    args.datasets = json.loads(args.datasets)

    run_dir = args.run_dir
    # The heap starts at its full size, so the passes do not pay for it
    # growing (with an adaptive heap the warm-up took twice as many
    # passes).  No hsperfdata file under /tmp, and Java temp files in the
    # run dir.
    java_opts = " ".join(
        [
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        ]
    )
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.traced:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )

    t0 = time.perf_counter()
    from energy_consumption_forecasting_spark import get_spark

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    t1 = time.perf_counter()
    queries, _oracles = load_registry()
    t2 = time.perf_counter()
    result: dict = {
        "ready": time.time(),
        "get_spark_s": t1 - t0,
        "load_all_s": t2 - t1,
    }
    sc = spark.sparkContext
    result["host"] = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": spark.version,
        "registered_queries": len(queries),
    }
    with open(args.goldens) as f:
        goldens = json.load(f)
    counter = None
    if args.traced:
        counter = FrameCacheCounter()
        counter.install()
    runner = Runner(args, spark, queries, counter)
    result["passes"] = runner.run_passes(goldens)
    result["records"] = runner.records
    spark.stop()
    result["py_maxrss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if args.traced:
        folded = fold_event_log(log_dir, runner.windows)
        result["folded"] = [
            {"label": label, "phase": phase, **rec} for (label, phase), rec in folded.items()
        ]
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
