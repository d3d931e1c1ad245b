"""The closed-loop workloads. One client thread issues every call and
waits for it before the next; Spark runs on ``local[nproc]``.

Each workload has a ``setup`` (its cold, expensive first operations), a
``cycle`` (one round of its operation mix) and a ``finish`` (closing
operations). The runner repeats whole cycles, at least ``min_cycles``,
until the measured operations have taken ``--seconds``. Every operation's
result is checked outside its timed span; a failed or wrong operation is
recorded, never dropped.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    span: int
    error: str | None = None


class Workload:
    """Shared plumbing: timed op spans, checks, the op record."""

    name = ""
    min_cycles = 1  # whole cycles per run, so every run measures the same mix

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.rng = np.random.default_rng([ctx.seed, 7])
        self.ops: list[Op] = []
        self._con = None

    @property
    def con(self):
        if self._con is None:
            self._con = checks.connect(self.ctx.sf_dir)
        return self._con

    def run_op(self, kind: str, span_name: str, fn, check=None):
        """Time ``fn()`` in a span, then check its result untimed."""
        error = None
        result = None
        with self.tracer.span(span_name) as sp:
            try:
                result = fn()
            except Exception as e:  # counted in failed, never dropped
                error = f"{type(e).__name__}: {e}"[:300]
        ok = error is None
        if ok and check is not None:
            with self.tracer.span("check." + kind):
                try:
                    ok = bool(check(result))
                    if not ok:
                        error = "wrong result"
                except Exception as e:
                    ok, error = False, f"check {type(e).__name__}: {e}"[:300]
        op = Op(kind, sp.seconds, ok, sp.id, error)
        print(f"op {kind} {op.seconds:.3f}s ok={ok}", file=sys.stderr, flush=True)
        self.ops.append(op)
        return op, result

    def close(self) -> None:
        if self._con is not None:
            self._con.close()

    def finish(self) -> None:
        """Closing operations after the last cycle."""

    def named(self) -> dict:
        return {}

    def layer_extra(self) -> dict:
        return {}


# --- etl_daily ---------------------------------------------------------

# A fixed subset of bench.py's read-only HEADLINE queries (README.md says
# why not all 30): a short overhead-bound query and the Python-worker-heavy
# ANN search.
QUERY_MIX = ("q1_abc_analysis", "q25_ivf_pq_search")


class EtlDaily(Workload):
    """The daily batch: the reference's job (``run_pipeline`` writing the
    12 reports) as an incremental load at a seeded watermark, then the
    ad-hoc queries of QUERY_MIX in a seeded order. The full load runs once,
    cold, in the set-up. Query results
    are collected through Arrow and hash-checked against the registry
    DuckDB oracles; reports are read back and checked against the
    matching oracles."""

    name = "etl_daily"
    min_cycles = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        from bench import HEADLINE
        from wsspark import adapters
        from wsspark.pipeline import run_pipeline
        from wsspark.queries import build_registry
        from wsspark.queries.llm import FOLDED_QUERIES

        reg = dict(build_registry())
        for q in FOLDED_QUERIES:
            reg.setdefault(q.name, q)
        self.reg = reg
        self.queries = {label: reg[HEADLINE[label]] for label in QUERY_MIX}
        self.adapters = adapters
        self.run_pipeline = run_pipeline
        self.out_dir = os.path.join(ctx.run_dir, "reports")
        self._oracles: dict = {}
        self._hashes: dict = {}

    def _since(self) -> str:
        # a delta of 2-5 % of the lineitem rows
        return gen.watermark(self.ctx.sf_dir, float(self.rng.uniform(0.02, 0.05)))

    def _oracle(self, name: str, since: str | None = None):
        key = (name, since)
        if key not in self._oracles:
            sql = self.reg[name].oracle
            if since is not None:
                # the pipeline filters the movements, not stock or sales
                mv = self.adapters.MOVEMENTS_SQL
                sql = sql.replace(
                    mv,
                    f"SELECT * FROM ({mv}) WHERE movement_date > TIMESTAMP '{since}'",
                )
            self._oracles[key] = self.con.execute(sql).fetchdf()
        return self._oracles[key]

    def _check(self, written: dict, since: str | None) -> bool:
        rep = {n: checks.read_report(p) for n, p in written.items()}
        dead = self._oracle("dead_stock", since)
        inv = self._oracle("inventory_summary", since)
        return (
            len(written) == 12
            # float products vs the oracle's per-line cents: <= 5 cents apart
            and checks.same_rows(
                rep["abc_analysis"], self._oracle("abc_analysis"), ["product_id"],
                ["revenue"], atol=0.05,
            )
            and checks.pareto_ok(rep["abc_analysis"])
            and checks.same_rows(
                rep["dead_stock_report"], dead[dead["is_dead_stock"]],
                ["product_id", "warehouse_id"],
                ["quantity_on_hand", "reorder_point", "days_since_last_movement"],
            )
            and checks.same_rows(rep["inventory_summary"], inv, [], list(inv.columns))
        )

    def _load(self, kind: str, since: str | None = None) -> None:
        self.run_op(
            kind, "pipeline.run",
            lambda: self.run_pipeline(
                self.spark, self.ctx.sf_dir, self.out_dir, load_type=kind,
                incremental_since=since,
            ),
            check=lambda written: self._check(written, since),
        )

    def _query(self, label: str) -> None:
        q = self.queries[label]

        def call():
            with self.tracer.span("queries.compose"):
                df = q.fn(self.spark, self.ctx.sf_dir)
            with self.tracer.span("queries.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("queries.execute"):
                return df.toPandas()

        self.run_op(
            label, "queries." + label, call,
            check=lambda pdf: checks.frame_hash(pdf) == self._want_hash(q.name),
        )

    def _want_hash(self, name: str):
        if name not in self._hashes:
            self._hashes[name] = checks.frame_hash(self._oracle(name))
        return self._hashes[name]

    def _query_pass(self) -> None:
        for i in self.rng.permutation(len(QUERY_MIX)):
            self._query(QUERY_MIX[i])

    def setup(self) -> None:
        """The cold full load, then the cold first execution of each query."""
        self._load("full")
        self.full_s = self.ops[-1].seconds
        self._query_pass()

    def cycle(self) -> None:
        self._load("incremental", self._since())
        self._query_pass()

    def named(self) -> dict:
        q = [o for o in self.ops if o.kind in QUERY_MIX]
        q_secs = [o.seconds for o in q]
        return {
            "etl_full_cold_s": self.full_s,
            "etl_incremental_s": _median(self.ops, "incremental"),
            "query_p50_s": _median(q),
            "query_qps": len(q_secs) / sum(q_secs) if q_secs else 0.0,
        }


# --- snapstore_dml -----------------------------------------------------

APPEND_ROWS = 60
# DV deletes keep the detail part chain and COW updates restart it, so the
# DV batch goes first: its 9 appends and the next 9 pass the 16-part chain
# limit once, so one append pays the fold
APPENDS_PER_BATCH = 9
KEEP_VERSIONS = 8  # snap_vacuum retention, and the time-travel window
FILES_PER_BASE = 600  # above the 512-file inline limit: the sidecar tier


def movements_fact(sf_dir: str) -> pa.Table:
    """The versioned movements fact, one row per derived lineitem with a
    dense unique ``mv_id`` in (l_orderkey, l_linenumber) order."""
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet")).sort_by(
        [("l_orderkey", "ascending"), ("l_linenumber", "ascending")]
    )
    return pa.table(
        {
            "mv_id": pa.array(np.arange(li.num_rows, dtype=np.int64)),
            "product_id": pa.array(li["l_partkey"].to_numpy() % 500),
            "warehouse_id": pa.array(li["l_suppkey"].to_numpy() % 20),
            "quantity": pc.cast(li["l_quantity"], pa.int64()),
            "movement_date": pc.cast(li["l_shipdate"], pa.date32()),
            "movement_type": li["l_returnflag"],
        }
    )


class SnapstoreDml(Workload):
    """Writes beside reads on one versioned movements fact, with the CDF
    materialized view refreshed after every write batch."""

    name = "snapstore_dml"

    def __init__(self, ctx):
        super().__init__(ctx)
        from pyspark.sql import functions as F

        from wsspark import snapstore as ss
        from wsspark.ops import incremental

        self.F = F
        self.ss = ss
        self.incremental = incremental
        self.root = os.path.join(ctx.run_dir, "fact")
        self.mv_root = os.path.join(ctx.run_dir, "mv")
        src = os.path.join(ctx.run_dir, "fact_src")
        os.makedirs(src, exist_ok=True)
        fact = movements_fact(ctx.sf_dir)
        self.n_base = int(fact.num_rows * 0.85)
        self.n_all = fact.num_rows
        self.all_path = os.path.join(src, "all.parquet")
        pq.write_table(fact, self.all_path)
        self.next_id = self.n_base  # next pool row to append or insert
        self.con.execute(
            f"CREATE TABLE fact AS SELECT * FROM '{self.all_path}' WHERE mv_id < {self.n_base}"
        )
        self.live_versions: list[int] = []
        self.base_files = self.base_sidecar = None
        self.commits: list[dict] = []
        self.prune: list[float] = []

    # DuckDB replay -----------------------------------------------------

    def _snapshot(self, version: int) -> None:
        self.con.execute(f"CREATE TABLE v{version} AS SELECT * FROM fact")
        self.live_versions.append(version)
        while len(self.live_versions) > KEEP_VERSIONS + 2:
            self.con.execute(f"DROP TABLE v{self.live_versions.pop(0)}")

    def _store_bytes(self) -> tuple[int, int]:
        meta = data = 0
        for d, _, files in os.walk(self.root):
            size = sum(os.path.getsize(os.path.join(d, f)) for f in files)
            if d.startswith(os.path.join(self.root, "_manifests")):
                meta += size
            else:
                data += size
        return meta, data

    def _head(self, version: int) -> dict:
        path = os.path.join(self.root, "_manifests", f"v{version:012d}.json")
        with open(path) as f:
            return json.load(f)

    def _commit_op(self, kind: str, fn, replay, check=None) -> None:
        """A write: time it, replay it in DuckDB, snapshot the version."""
        before = self._store_bytes() if self.ctx.traced else None
        op, version = self.run_op(kind, "snapstore." + kind, fn, check)
        if not op.ok:
            return
        replay()
        self._snapshot(version)
        if before is not None:
            after = self._store_bytes()
            self.commits.append(
                {
                    "meta": after[0] - before[0],
                    "data": after[1] - before[1],
                    "parts": len(self._head(version).get("detail_files", [])),
                }
            )

    def _pool_rows(self, n: int) -> tuple[int, int]:
        lo = self.next_id
        hi = min(self.n_all, lo + n)
        if hi <= lo:
            raise RuntimeError("append pool exhausted")
        self.next_id = hi
        return lo, hi

    def _src(self, lo: int, hi: int):
        F = self.F
        return self.spark.read.parquet(self.all_path).filter(
            (F.col("mv_id") >= lo) & (F.col("mv_id") < hi)
        )

    def _rand_range(self, width: int) -> tuple[int, int]:
        lo = int(self.rng.integers(0, self.n_base - width))
        return lo, lo + width - 1

    # operations --------------------------------------------------------

    def append(self) -> None:
        lo, hi = self._pool_rows(APPEND_ROWS)
        self._commit_op(
            "commit",
            lambda: self.ss.snap_commit(
                self._src(lo, hi).coalesce(1), self.root, stats_cols=["mv_id"]
            ),
            lambda: self.con.execute(
                f"INSERT INTO fact SELECT * FROM '{self.all_path}' "
                f"WHERE mv_id >= {lo} AND mv_id < {hi}"
            ),
        )

    def update(self) -> None:
        lo, hi = self._rand_range(200)
        cond = f"mv_id >= {lo} AND mv_id <= {hi}"
        self._commit_op(
            "update_where",
            lambda: self.ss.snap_update_where(
                self.spark, self.root, cond, {"quantity": "quantity + 1"}
            ),
            lambda: self.con.execute(
                f"UPDATE fact SET quantity = quantity + 1 WHERE {cond}"
            ),
        )

    def delete(self) -> None:
        lo, hi = self._rand_range(100)
        cond = f"mv_id >= {lo} AND mv_id <= {hi}"
        self._commit_op(
            "delete_dv",
            lambda: self.ss.snap_delete_dv(self.spark, self.root, cond),
            lambda: self.con.execute(f"DELETE FROM fact WHERE {cond}"),
        )

    def read_between(self) -> None:
        F = self.F
        lo, hi = self._rand_range(max(100, self.n_base // 50))
        if self.ctx.traced:
            planned, total = self.ss.snap_prune_files(self.root, "mv_id", lo, hi)
            self.prune.append(len(planned) / max(1, total))
        want = (
            "SELECT movement_type, CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(quantity) AS BIGINT) AS q FROM fact "
            f"WHERE mv_id BETWEEN {lo} AND {hi} GROUP BY 1"
        )
        self.run_op(
            "read_between", "snapstore.read_between",
            lambda: self.ss.snap_read_between(self.spark, self.root, "mv_id", lo, hi)
            .groupBy("movement_type")
            .agg(F.count("*").alias("n"), F.sum("quantity").alias("q"))
            .toPandas(),
            check=lambda pdf: checks.frame_hash(pdf) == checks.oracle_hash(self.con, want),
        )

    def read_version(self) -> None:
        """Time travel: the same pruned range read at an older version."""
        F = self.F
        back = int(self.rng.integers(1, min(KEEP_VERSIONS, len(self.live_versions))))
        version = self.live_versions[-1 - back]
        lo, hi = self._rand_range(max(100, self.n_base // 50))
        want = (
            "SELECT warehouse_id, CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST(SUM(quantity) AS BIGINT) AS q FROM v{version} "
            f"WHERE mv_id BETWEEN {lo} AND {hi} GROUP BY 1"
        )
        self.run_op(
            "read_version", "snapstore.read_version",
            lambda: self.ss.snap_read_between(
                self.spark, self.root, "mv_id", lo, hi, version=version
            )
            .groupBy("warehouse_id")
            .agg(F.count("*").alias("n"), F.sum("quantity").alias("q"))
            .toPandas(),
            check=lambda pdf: checks.frame_hash(pdf) == checks.oracle_hash(self.con, want),
        )

    def _mv_ok(self, _) -> bool:
        got = self.ss.snap_read(self.spark, self.mv_root).toPandas()
        want = self.con.execute(
            "SELECT warehouse_id, product_id, CAST(COUNT(*) AS BIGINT) AS n_movements, "
            "CAST(SUM(quantity) AS BIGINT) AS net_qty, "
            "SUM(quantity) / COUNT(*) AS avg_qty FROM fact GROUP BY 1, 2"
        ).fetchdf()
        keys = ["warehouse_id", "product_id"]
        return checks.same_rows(
            got, want, keys, ["n_movements", "net_qty", "avg_qty"], atol=1e-4
        )

    def mv_refresh(self) -> None:
        self.run_op(
            "mv_refresh", "ops.incremental.mv_refresh",
            lambda: self.incremental.snapstore_mv_refresh_cdf(
                self.spark, self.root, self.mv_root
            ),
            check=self._mv_ok,
        )

    def _version_ok(self, version: int, table: str) -> bool:
        """A full read of ``version`` (data files, deletion vectors applied)
        against its replay table."""
        F = self.F
        got = (
            self.ss.snap_read(self.spark, self.root, version=version)
            .groupBy("movement_type")
            .agg(F.count("*").alias("n"), F.sum("quantity").alias("q"),
                 F.sum("mv_id").alias("ids"))
            .toPandas()
        )
        want = (
            "SELECT movement_type, CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(quantity) AS BIGINT) AS q, "
            f"CAST(SUM(mv_id) AS BIGINT) AS ids FROM {table} GROUP BY 1"
        )
        return checks.frame_hash(got) == checks.oracle_hash(self.con, want)

    def compact(self) -> None:
        # compaction changes no row: the replay is empty and the new version
        # must read as the replayed fact
        self._commit_op(
            "compact",
            lambda: self.ss.snap_compact(self.spark, self.root, stats_cols=["mv_id"]),
            lambda: None,
            check=lambda version: self._version_ok(version, "fact"),
        )

    def vacuum(self) -> None:
        # the current version and the oldest retained one must still read
        # as their replays: a vacuum that deleted a live file fails here
        current = self.live_versions[-1]
        oldest = self.live_versions[-KEEP_VERSIONS]
        self.run_op(
            "vacuum", "snapstore.vacuum",
            lambda: self.ss.snap_vacuum(self.root, keep_last=KEEP_VERSIONS),
            check=lambda _: self._version_ok(current, "fact")
            and self._version_ok(oldest, f"v{oldest}"),
        )

    def setup(self) -> None:
        """Set up the store: the >= 600-file base commit, the change feed,
        and the first (full) build of the CDF view."""
        F = self.F
        n_file = max(1, self.n_base // FILES_PER_BASE)

        def base():
            df = (
                self.spark.read.parquet(self.all_path)
                .filter(F.col("mv_id") < self.n_base)
                .repartitionByRange(self.ctx.cores, "mv_id")
                .sortWithinPartitions("mv_id")
            )
            self.ss.snap_commit(
                df, self.root, stats_cols=["mv_id"],
                write_options={"maxRecordsPerFile": str(n_file)},
            )
            self.ss.snap_enable_cdf(self.root)
            return self.ss.snap_current_version(self.root)

        op, version = self.run_op("commit_base", "snapstore.commit_base", base)
        if op.ok:
            head = self._head(version)
            self.base_files = len(head["files"]) if "files" in head else head.get("file_count")
            self.base_sidecar = "detail_files" in head
            self._snapshot(version)
            self.mv_refresh()

    def cycle(self) -> None:
        """Two write batches, each followed by the view refresh and a read."""
        for dml, read in ((self.delete, self.read_between), (self.update, self.read_version)):
            for _ in range(APPENDS_PER_BATCH):
                self.append()
            dml()
            self.mv_refresh()
            read()

    def finish(self) -> None:
        """End-of-day maintenance: compact, then vacuum at the fixed
        retention."""
        self.compact()
        self.vacuum()

    def space_amp(self) -> float:
        meta, data = self._store_bytes()
        live = self.ss.snap_bytes(self.root)
        return (meta + data) / live if live else 0.0

    def named(self) -> dict:
        commits = [o for o in self.ops if o.kind in ("commit", "update_where", "delete_dv")]
        return {
            "commit_p50_s": _median(commits),
            "read_p50_s": _median([o for o in self.ops if o.kind.startswith("read")]),
            "mv_refresh_p50_s": _median(self.ops, "mv_refresh"),
            "space_amp": self.space_amp(),
            "base_files": self.base_files,
            "base_sidecar_tier": self.base_sidecar,
            # traced runs only: the part chain each measured commit carries
            "detail_parts_per_commit": [c["parts"] for c in self.commits],
        }

    def layer_extra(self) -> dict:
        n = max(1, len(self.commits))
        return {
            "snapstore.meta_bytes_per_commit": sum(c["meta"] for c in self.commits) / n,
            "snapstore.data_bytes_per_commit": sum(c["data"] for c in self.commits) / n,
            "snapstore.detail_parts": sum(c["parts"] for c in self.commits) / n,
            "snapstore.prune_ratio": sum(self.prune) / len(self.prune) if self.prune else 0.0,
            "snapstore.space_amp": self.space_amp(),
        }


def _median(ops: list[Op], kind: str | None = None) -> float:
    import statistics

    secs = [o.seconds for o in ops if kind is None or o.kind == kind]
    return statistics.median(secs) if secs else 0.0


WORKLOADS = {w.name: w for w in (EtlDaily, SnapstoreDml)}
