"""Seeded input derivation for the benchmark (pyarrow only, no Spark).

Every workload reads a table set derived from the read-only sf0.1 testdata
by a seeded, key-consistent sample: an order-level drop (an order keeps all
its lineitems or loses all of them), a user-level drop on ``events`` (a
user's session stream stays whole) and a row-level drop on ``documents``.
The dimension tables and ``embeddings`` (whose fixed query vectors the ANN
queries look up by id) are copied verbatim, so every key a kept row or a
query refers to still resolves. The same ``(seed, keep)`` pair
always gives byte-identical parquet files; another seed gives another sample.
Generation is not program time: it runs before the Spark session starts.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.make_sf1 import SRC as SOURCE_DIR  # the read-only sf0.1 testdata

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()
VERBATIM = ("region", "nation", "customer", "supplier", "part", "embeddings")


def _keep_mask(n: int, rng: np.random.Generator, keep: float) -> pa.Array:
    return pa.array(rng.random(n) < keep)


def _write(table: pa.Table, path: str) -> None:
    # One row group, no timestamps or writer ids beyond pyarrow's own
    # version string: the bytes depend only on the rows.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def derive(dst: str, seed: int, keep: float, src: str = SOURCE_DIR) -> dict:
    """Write the derived table set under ``dst`` (one ``<table>.parquet``
    file each) and return ``{table: rows}``. Reuses a complete earlier
    derivation of the same ``(seed, keep)`` found at ``dst``."""
    done = os.path.join(dst, "_DONE")
    if os.path.exists(done):
        return {
            t: pq.ParquetFile(os.path.join(dst, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }
    if not os.path.isdir(src):
        raise FileNotFoundError(f"source testdata not found: {src}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    rng = np.random.default_rng([seed, int(keep * 1_000_000)])
    out: dict[str, pa.Table] = {}
    for t in VERBATIM:
        out[t] = pq.read_table(os.path.join(src, f"{t}.parquet"))

    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    orders = orders.filter(_keep_mask(orders.num_rows, rng, keep))
    lineitem = pq.read_table(os.path.join(src, "lineitem.parquet"))
    out["orders"] = orders
    out["lineitem"] = lineitem.filter(
        pc.is_in(lineitem["l_orderkey"], value_set=orders["o_orderkey"])
    )

    events = pq.read_table(os.path.join(src, "events.parquet"))
    users = pc.unique(events["user_id"]).sort()
    kept_users = users.filter(_keep_mask(len(users), rng, keep))
    out["events"] = events.filter(pc.is_in(events["user_id"], value_set=kept_users))

    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    out["documents"] = docs.filter(_keep_mask(docs.num_rows, rng, keep))

    for t, tab in out.items():
        _write(tab, os.path.join(dst, f"{t}.parquet"))
    with open(done, "w") as f:
        f.write(f"{seed} {keep}\n")
    return {t: tab.num_rows for t, tab in out.items()}


def watermark(sf_dir: str, delta_frac: float) -> str:
    """The ``l_shipdate`` cut that leaves about ``delta_frac`` of the
    lineitem rows strictly after it (the incremental load's delta)."""
    ship = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"), columns=["l_shipdate"])
    days = np.sort(ship["l_shipdate"].to_numpy().astype("datetime64[D]"))
    cut = days[int(len(days) * (1.0 - delta_frac))]
    return dt.datetime.fromisoformat(str(cut)).strftime("%Y-%m-%d %H:%M:%S")
