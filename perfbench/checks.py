"""Correctness checks, run outside the timed region.

Query results are compared with their registry DuckDB oracle through the
driver gate's canonical form and value hash (``tools/driver_sim.py``).
ETL reports are read back with pyarrow and compared with the matching
registry oracles. Snapstore reads are compared with a DuckDB replay of the
same seeded DML.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import TABLES
from tools.driver_sim import canonical, value_hash


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per derived table, as ``tools/driver_sim.py``
    sets up."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def frame_hash(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted columns, value hash) of a result frame."""
    c = canonical(pdf)
    return len(c), tuple(c.columns), value_hash(c)


def oracle_hash(con, sql: str) -> tuple[int, tuple[str, ...], str]:
    return frame_hash(con.execute(sql).fetchdf())


def read_report(path: str) -> pd.DataFrame:
    """A report written by ``run_pipeline`` (a parquet directory)."""
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
              cols: list[str], rtol: float = 1e-9, atol: float = 0.0) -> bool:
    """Keyed comparison of ``cols``: floats within ``atol + rtol * |want|``
    (report frames sum float products where the oracles sum rounded
    cents), everything else equal."""
    if len(got) != len(want):
        return False
    g = got[keys + cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = want[keys + cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in keys + cols:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a, b = a.astype("float64"), b.astype("float64")
            tol = atol + rtol * b.abs().clip(lower=1.0)
            if not ((a - b).abs() <= tol).all():
                return False
        elif not (a.astype(str).values == b.astype(str).values).all():
            return False
    return True


def pareto_ok(report: pd.DataFrame) -> bool:
    """The ABC report's Pareto columns follow the reference rule from the
    report's own ``revenue`` column (compared with the oracle separately):
    products ordered by revenue descending, then id; the running share of
    the total; class A up to a share of 0.8, B up to 0.95, C above. The
    registry oracle sums rounded cents and rounds the share to 6 digits, so
    near-equal revenues can order, and a share just above 0.8 can class,
    differently there."""
    r = report.sort_values(
        ["revenue", "product_id"], ascending=[False, True], kind="mergesort"
    )
    rev = r["revenue"].to_numpy()
    cum = np.cumsum(rev)
    pct = r["revenue_percent"].to_numpy()
    want = np.where(pct <= 0.8, "A", np.where(pct <= 0.95, "B", "C"))
    return bool(
        np.allclose(r["total_revenue"].to_numpy(), cum[-1], rtol=1e-9, atol=0.0)
        and np.allclose(r["revenue_cumsum"].to_numpy(), cum, rtol=1e-9, atol=0.0)
        and np.allclose(pct, cum / cum[-1], rtol=1e-9, atol=0.0)
        and (r["abc_class"].to_numpy() == want).all()
    )
