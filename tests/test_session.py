"""`get_spark` session defaults that a shared test session cannot show.

PySpark caches the call-site-capture flag per process on its first
wrapped call, so the probe runs in a fresh interpreter.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import REPO_ROOT, SF_SMALL

_PROBE = """
import json, sys
from energy_consumption_forecasting_spark import get_spark
from energy_consumption_forecasting_spark.queries.aggregates import (
    tpch_q1_pricing_summary,
)
from pyspark.errors.utils import is_debugging_enabled

spark = get_spark("session-probe")
rows = tpch_q1_pricing_summary(spark, sys.argv[1]).collect()
print(json.dumps({
    "rows": len(rows),
    "ipython": "IPython" in sys.modules,
    "debugging": is_debugging_enabled(),
}))
spark.stop()
"""


def test_get_spark_turns_off_call_site_capture():
    """Construct and collect tpch_q1 in a fresh process: the PySpark
    call-site wrapper stays off, so IPython is never imported."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=str(REPO_ROOT),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, SF_SMALL],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] > 0
    assert got["ipython"] is False
    assert got["debugging"] is False
