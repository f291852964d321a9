"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_forecast --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The benchmark checks its input tables
(``perfbench/data``, copies of the engine's testdata) against their
sha256 sums, computes the goldens, and starts each measured workload in a
fresh process with the checkout first on ``PYTHONPATH``.

``--trace 0`` reports the end-to-end metrics: set-up time, the first
pass, the median steady pass, the median query latency and the driver's
peak memory in use.
``--trace 1`` runs the workload once untraced and once traced and reports
the per-layer metrics, including ``trace.overhead``, the ratio of the two
runs' ``pass_s``.

Every line but the last is for people; the last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_INIT = os.path.join(ROOT, "energy_consumption_forecasting_spark", "__init__.py")
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
RUN_BUDGET_S = 170.0

BENCHMARK_FILE = os.path.join(ROOT, "BENCHMARK.json")


class HarnessError(RuntimeError):
    """The benchmark could not measure: no result may be printed."""


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _task_slots() -> int:
    """Spark task slots: half the CPUs.  A slot that feeds a pandas UDF
    keeps a Python worker busy beside it, and the JIT compiler, the GC,
    the driver's Python thread and the host-speed sampler need CPUs too,
    so a run never has more busy threads than CPUs."""
    return max(1, _nproc() // 2)


def _driver_mem() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_group(pgid: int) -> None:
    """Kill whatever is left of a child's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 20
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


class Bench:
    def __init__(self, args):
        self.args = args
        self.deadline = time.monotonic() + RUN_BUDGET_S
        self.run_dir = os.path.join(RUN_ROOT, f"{args.workload}-{args.seed}-{args.trace}")
        self.env = dict(os.environ)
        self.env.update(
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            SPARK_GRAFT_CPUS=str(_task_slots()),
            SPARK_GRAFT_DRIVER_MEM=_driver_mem(),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            TMPDIR=os.path.join(self.run_dir, "tmp"),
        )
        self.children = 0

    def child(self, traced: bool) -> dict:
        """Run ``workload.py`` in a fresh process; return its result plus
        its set-up time, the ERROR/WARN line counts of its log and the
        host-speed factors of its set-up and of each pass.

        The process runs on every CPU but one.  On that one, this process
        samples the host's speed until the workload process ends."""
        self.children += 1
        tag = f"child{self.children}"
        out = os.path.join(self.run_dir, f"{tag}.json")
        log = os.path.join(self.run_dir, f"{tag}.log")
        cmd = [
            sys.executable,
            os.path.join(ROOT, "perfbench", "workload.py"),
            "--workload", self.args.workload,
            "--seed", str(self.args.seed),
            "--seconds", str(self.args.seconds),
            "--traced", "1" if traced else "0",
            "--run-dir", self.run_dir,
            "--datasets", json.dumps(self.datasets),
            "--goldens", self.goldens_path,
            "--out", out,
        ]
        timeout = self.deadline - time.monotonic()
        if timeout <= 5:
            raise HarnessError("run budget spent before a workload process could start")
        from perfbench.hostspeed import INTERVAL_S, SpeedLog, split_cpus

        speed = SpeedLog()
        work_cpus, sampler_cpu = split_cpus()
        all_cpus = os.sched_getaffinity(0)
        with open(log, "w") as logf:
            os.sched_setaffinity(0, sampler_cpu)
            start = time.time()
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=self.env, stdout=logf, stderr=subprocess.STDOUT,
                start_new_session=True,
                preexec_fn=lambda: os.sched_setaffinity(0, work_cpus),
            )
            end = time.monotonic() + timeout
            try:
                while proc.poll() is None and time.monotonic() < end:
                    speed.sample()
                    time.sleep(INTERVAL_S)
                code = proc.poll()
            finally:
                _end_group(proc.pid)
                proc.wait()
                os.sched_setaffinity(0, all_cpus)
        if code != 0:
            with open(log, errors="replace") as f:
                tail = f.read()[-3000:]
            why = "timed out" if code is None else f"exited with {code}"
            raise HarnessError(f"workload process {why}; log tail:\n{tail}")
        with open(out) as f:
            res = json.load(f)
        res["setup_s"] = res["ready"] - start
        res["setup_factor"] = speed.factor(start, res["ready"])
        for p in res.get("passes", []):
            p["factor"] = speed.factor(p["start"], p["end"])
        res["loop_ms"] = 1000.0 * speed.median_loop_s()
        errors = warns = 0
        with open(log, errors="replace") as f:
            for line in f:
                errors += " ERROR " in line
                warns += " WARN " in line
        res["error_lines"], res["warn_lines"] = errors, warns
        return res

    def prepare(self) -> None:
        from perfbench.check import oracle_goldens, verify_data
        from perfbench.registry import load_registry
        from perfbench.spec import DATA_ROOT, DATA_SUMS, WORKLOADS, dataset_dir

        spec = WORKLOADS[self.args.workload]
        bad = verify_data(DATA_ROOT, DATA_SUMS)
        if bad:
            raise HarnessError(f"input tables missing or changed: {bad}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(os.path.join(self.run_dir, "tmp"))
        self.datasets = {name: dataset_dir(name) for name in spec.datasets}
        _queries, oracles = load_registry()
        goldens = oracle_goldens(oracles, spec.queries, self.datasets)
        self.goldens_path = os.path.join(self.run_dir, "goldens.json")
        with open(self.goldens_path, "w") as f:
            json.dump(goldens, f)

    def cleanup(self) -> None:
        for sub in ("local", "sink", "tmp", "warehouse", "eventlog"):
            shutil.rmtree(os.path.join(self.run_dir, sub), ignore_errors=True)


def _steady(res: dict) -> list[dict]:
    return [p for p in res["passes"] if p["steady"]]


def _outcome(results: list[dict]) -> tuple[int, int, list[str]]:
    attempted = failed = 0
    problems: list[str] = []
    for res in results:
        for rec in res["records"]:
            attempted += 1
            if not rec["ok"]:
                failed += 1
                problems.append(f"pass {rec['pass']} {rec['label']}: {rec.get('error')}")
    return attempted, failed, problems


def _pass_s(res: dict) -> float:
    """Median steady pass, in reference seconds."""
    return statistics.median(p["wall_s"] * p["factor"] for p in _steady(res))


def end_to_end(main: dict) -> dict:
    """Timings in reference seconds (see ``hostspeed``): each span's wall
    time times the host-speed factor of that span.  A query latency takes
    the factor of its pass."""
    factor = {p["pass"]: p["factor"] for p in _steady(main)}
    latencies = [
        r["latency_s"] * factor[r["pass"]]
        for r in main["records"]
        if r["pass"] in factor and r["ok"]
    ]
    first = main["passes"][0]
    return {
        "setup_s": main["setup_s"] * main["setup_factor"],
        "first_pass_s": first["wall_s"] * first["factor"],
        "pass_s": _pass_s(main),
        "query_p50_s": statistics.median(latencies),
        "peak_mem_mb": max(p["jvm_live_mb"] for p in main["passes"] if "jvm_live_mb" in p)
        + main["py_maxrss_mb"],
    }


def per_layer(traced: dict, base: dict, sink: str, failed_frac: float) -> dict:
    """Per-steady-pass medians of the traced run's layer records."""
    steady = _steady(traced)
    steady_ids = {p["pass"] for p in steady}
    last = max(steady_ids)

    def per_pass(values_of) -> float:
        return statistics.median(values_of(i) for i in sorted(steady_ids))

    recs = [r for r in traced["records"] if r["pass"] in steady_ids]
    folded = traced.get("folded", [])

    def phase_sum(i: int, phase: str, key: str) -> float:
        return sum(
            f.get(key, 0.0)
            for f in folded
            if f["phase"] == phase and f["label"].endswith(f"#{i}")
        )

    def all_phases(i: int, key: str) -> float:
        return sum(phase_sum(i, ph, key) for ph in ("construct", "plan", "execute"))

    def rec_sum(i: int, key: str) -> float:
        return sum(r.get(key, 0.0) for r in recs if r["pass"] == i)

    frames = {p["pass"]: p["frame"] for p in steady}
    calls = sum(f["calls"] for f in frames.values())
    builds = sum(f["builds"] for f in frames.values())
    last_recs = [r for r in traced["records"] if r["pass"] == last]
    m = {
        "session.get_spark_s": traced["get_spark_s"],
        "queries.load_all_s": traced["load_all_s"],
        "construct.s": per_pass(lambda i: rec_sum(i, "construct_s")),
        "plan.s": per_pass(lambda i: rec_sum(i, "plan_s")),
        "execute.s": per_pass(lambda i: rec_sum(i, "execute_s")),
        "write.bytes": sum(r.get("write_bytes", 0) for r in last_recs),
        "write.files": sum(r.get("write_files", 0) for r in last_recs),
        "collect.rows": sum(r.get("rows", 0) for r in last_recs) if sink == "collect" else 0,
    }
    for phase in ("construct", "execute"):
        for key in ("jobs", "stages", "tasks"):
            m[f"{phase}.{key}"] = per_pass(lambda i: phase_sum(i, phase, key))
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "task_failures"):
        m[f"execute.{key}"] = per_pass(lambda i: phase_sum(i, "execute", key))
    sums = {
        "scan.input_bytes": "input_bytes",
        "scan.input_records": "input_records",
        "shuffle.write_bytes": "shuffle_write_bytes",
        "shuffle.fetch_wait_s": "fetch_wait_s",
        "spill.bytes": "spill_disk_bytes",
        "python.exec_s": "python_exec_s",
        "python.bytes_to_worker": "python_bytes_to_worker",
        "python.bytes_from_worker": "python_bytes_from_worker",
    }
    for name, key in sums.items():
        m[name] = per_pass(lambda i: all_phases(i, key))
    m["shuffle.read_bytes"] = per_pass(
        lambda i: all_phases(i, "shuffle_remote_bytes") + all_phases(i, "shuffle_local_bytes")
    )
    m.update(
        {
            "frame_cache.calls": per_pass(lambda i: frames[i]["calls"]),
            "frame_cache.builds": per_pass(lambda i: frames[i]["builds"]),
            "frame_cache.min_pass_builds": min(f["builds"] for f in frames.values()),
            "frame_cache.hit_ratio": (calls - builds) / calls if calls else 0.0,
            "frame_cache.evictions": per_pass(lambda i: frames[i]["evictions"]),
            "frame_cache.entries": steady[-1]["frame"]["entries"],
            "frame_cache.build_s": per_pass(lambda i: frames[i]["build_s"]),
            "storage.cached_bytes": per_pass(
                lambda i: next(p["cached_bytes"] for p in steady if p["pass"] == i)
            ),
            "driver.error_lines": traced["error_lines"],
            "driver.warn_lines": traced["warn_lines"],
            "failed_frac": failed_frac,
            "trace.overhead": _pass_s(traced) / _pass_s(base),
            "host.loop_ms": traced["loop_ms"],
            "wall.pass_s": statistics.median(p["wall_s"] for p in _steady(base)),
        }
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(PACKAGE_INIT):
        print(f"no engine package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.spec import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still ends its workload process group (see child())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    try:
        bench.prepare()
        if args.trace:
            base = bench.child(traced=False)
            traced = bench.child(traced=True)
            results = [base, traced]
        else:
            main_res = bench.child(traced=False)
            results = [main_res]
    except HarnessError as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 3
    finally:
        bench.cleanup()

    attempted, failed, problems = _outcome(results)
    if args.trace:
        values = per_layer(traced, base, WORKLOADS[args.workload].sink, failed / attempted)
    else:
        values = end_to_end(main_res)
    with open(BENCHMARK_FILE) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(values):
        print(f"metrics differ from {BENCHMARK_FILE}: {sorted(set(units) ^ set(values))}",
              file=sys.stderr)
        return 3

    import pyarrow

    head = results[-1]
    host = {
        "nproc": _nproc(),
        "spark_graft_cpus": head["host"]["spark_graft_cpus"],
        "driver_mem": head["host"]["driver_mem"],
        "default_parallelism": head["host"]["default_parallelism"],
        "master": head["host"]["master"],
        "spark": head["host"]["spark"],
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "commit": _git_commit(),
        "loadavg_per_pass": [round(p["loadavg"], 2) for p in head["passes"]],
    }
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print("host " + json.dumps(host))
    walls = {
        kind: [f"{p['wall_s']:.3f}x{p['factor']:.3f}" for p in head["passes"] if pick(p)]
        for kind, pick in (
            ("first", lambda p: p["pass"] == 0),
            ("warm", lambda p: p["pass"] > 0 and not p["steady"]),
            ("steady", lambda p: p["steady"]),
        )
    }
    print("passes, wall s x host factor: " + json.dumps(walls))
    if args.trace:
        print("frame_cache builds per steady pass: " + json.dumps(
            [p["frame"]["builds"] for p in _steady(traced)]
        ))
    else:
        setup = f"{main_res['setup_s']:.3f}x{main_res['setup_factor']:.3f}"
        print(f"set-up, wall s x host factor: {setup}")
        steady_ids = {p["pass"] for p in _steady(main_res)}
        n = sum(1 for r in main_res["records"] if r["pass"] in steady_ids and r["ok"])
        print(f"query latency samples: {n}")
        live = [round(p["jvm_live_mb"], 1) for p in main_res["passes"] if "jvm_live_mb" in p]
        print(f"memory: JVM live per pass {live} MB, Python maxrss {main_res['py_maxrss_mb']:.1f} MB")
    checked = sum(1 for res in results for r in res["records"] if r.get("checked"))
    print(f"output check: {checked} executions checked, {failed} of {attempted} failed")
    for p in problems:
        print(f"  FAILED {p}")
    for name in units:
        print(f"metric {name} = {values[name]:.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
