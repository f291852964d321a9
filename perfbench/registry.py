"""Load the engine's query registry without its import-time side effects.

Two query modules (``sources_gate`` and ``pipelines_gate``) write fixture
files under a fixed absolute path when they are imported.  A benchmark
run may read and write only inside its own checkout, so those modules
are replaced by empty stand-ins before ``queries.load_all()`` imports
them.  No benchmark workload uses their queries.
"""

from __future__ import annotations

import sys
import types

PACKAGE = "energy_consumption_forecasting_spark"
FIXED_PATH_MODULES = ("sources_gate", "pipelines_gate")


def load_registry():
    """``queries.load_all()`` with the fixed-path modules left out."""
    for mod in FIXED_PATH_MODULES:
        name = f"{PACKAGE}.queries.{mod}"
        sys.modules.setdefault(name, types.ModuleType(name))
    from energy_consumption_forecasting_spark.queries import load_all

    return load_all()
