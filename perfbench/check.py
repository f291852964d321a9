"""Output check: row count plus an order-insensitive canonical digest.

The canonical form is the one the repository's parity tool uses: columns
ordered by lower-cased name, floats to 9 significant digits, every other
value through ``str``, rows sorted.  Goldens come from the registered
DuckDB oracle of the query on the same dataset, so every workload query
must have an oracle.
"""

from __future__ import annotations

import hashlib
import math
import os


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.9g}"
    return str(v)


def digest(columns, rows) -> dict:
    """``{"rows": n, "hash": sha256}`` of the canonical form of a result."""
    lower = [c.lower() for c in columns]
    order = sorted(range(len(lower)), key=lambda i: lower[i])
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lower[i] for i in order).encode())
    for line in canon:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def oracle_goldens(oracles: dict[str, str], queries, datasets: dict[str, str]) -> dict:
    """Digest of each query's DuckDB oracle on each dataset directory, as
    ``{dataset: {query: digest}}``."""
    import duckdb

    out: dict[str, dict] = {}
    for ds, path in datasets.items():
        con = duckdb.connect()
        try:
            for t in sorted(f[:-8] for f in os.listdir(path) if f.endswith(".parquet")):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')"
                )
            for q in queries:
                res = con.execute(oracles[q])
                cols = [d[0] for d in res.description]
                out.setdefault(ds, {})[q] = digest(cols, res.fetchall())
        finally:
            con.close()
    return out


def verify_data(root: str, sums_file: str) -> list[str]:
    """Table files under ``root`` whose sha256 differs from ``sums_file``
    (``sha256sum`` format) or that are missing."""
    bad = []
    with open(sums_file) as f:
        for line in f:
            want, rel = line.split()
            try:
                with open(os.path.join(root, rel), "rb") as t:
                    got = hashlib.sha256(t.read()).hexdigest()
            except OSError:
                got = None
            if got != want:
                bad.append(rel)
    return bad
