"""Benchmark driver. Run from the repository root:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0

Derives the inputs from ``--seed``, starts one Spark session on
``local[nproc]``, runs the workload's cold set-up, then whole cycles of its
operation mix (at least the workload's ``min_cycles``) until the measured
operations have taken ``--seconds``, and checks every result. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from the Spark event
log) with ``--trace 1``. The line before it carries the run stamp and the
workload's own named metrics. Everything the run writes stays under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import atexit
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # wsspark, bench.py and tools/ of the checkout

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from bench import external_cpu_probe  # noqa: E402

KEEP = 0.02  # share of sf0.1 orders, event users and documents kept


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, RSS bytes) of every live process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/statm") as f:
                out[int(pid)] = (ppid, int(f.read().split()[1]) * page)
        except (OSError, ValueError, IndexError):
            continue
    return out


def _descendants(pid: int, procs: dict[int, tuple[int, int]]) -> set[int]:
    tree, grew = {pid}, True
    while grew:
        grew = False
        for p, (ppid, _) in procs.items():
            if ppid in tree and p not in tree:
                tree.add(p)
                grew = True
    return tree - {pid}


class RssSampler(threading.Thread):
    """One thread sampling the driver + JVM + Python-worker tree's RSS."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_ev.is_set():
            procs = _processes()
            tree = _descendants(me, procs) | {me}
            self.peak = max(self.peak, sum(procs[p][1] for p in tree if p in procs))
            self._stop_ev.wait(self.interval)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


class Context:
    def __init__(self, args, run_dir: str, sf_dir: str, cores: int):
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.cores = cores
        self.spark = None
        self.tracer = None


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF) and wait
    until the JVM and every Python worker it started have ended."""
    procs = _descendants(os.getpid(), _processes())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def cpu_probe_s() -> float:
    """Seconds a fixed single-core Python loop takes: compared across runs,
    it shows how fast the host was, independent of the engine."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def e2e_metrics(setup_s: float, ops) -> dict[str, float]:
    secs = [o.seconds for o in ops]
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.seconds)
    per_kind = [statistics.median(v) for v in kinds.values()]
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(secs),
        "op_geomean_s": math.exp(sum(math.log(v) for v in per_kind) / len(per_kind)),
        "ops_per_s": len(secs) / sum(secs),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    work = os.path.join(os.getcwd(), ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    atexit.register(shutil.rmtree, run_dir, True)
    # every temp file of Python, the Spark launcher and the JVM stays in run_dir
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None

    sf_dir = os.path.join(work, "inputs", f"s{args.seed}-k{KEEP}")
    rows = gen.derive(sf_dir, args.seed, KEEP)
    cores = os.cpu_count() or 1
    ctx = Context(args, run_dir, sf_dir, cores)
    load_start = os.getloadavg()
    probe_start = cpu_probe_s()
    sampler = RssSampler()
    sampler.start()

    from wsspark.session import get_session

    tracer = spans.Tracer()
    with tracer.span("session.get_session") as session_span:
        spark = get_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=session_conf(run_dir, ctx.traced),
        )
    if ctx.traced:
        tracer.sc = spark.sparkContext
    ctx.spark, ctx.tracer = spark, tracer
    wl = None
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        # set-up results are checked and counted too, but not in the medians;
        # setup_s is the timed calls only, without the harness's preparation
        # and checks
        setup_ops = list(wl.ops)
        setup_s = session_span.seconds + sum(o.seconds for o in setup_ops)
        wl.ops.clear()
        measured_from = len(tracer.spans)
        ext = external_cpu_probe()
        m0 = time.perf_counter()
        cycles = 0
        while cycles < wl.min_cycles or sum(o.seconds for o in wl.ops) < args.seconds:
            wl.cycle()
            cycles += 1
        wl.finish()
        ext_cores = ext(time.perf_counter() - m0)
        named = wl.named()
        layer_extra = wl.layer_extra() if ctx.traced else {}
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)
        sampler.stop()

    ops = wl.ops
    attempted = setup_ops + ops
    failed = [o for o in attempted if not o.ok]
    e2e = e2e_metrics(setup_s, ops)
    named["failed_frac"] = len(failed) / len(attempted)
    tail_p, tail_v = spans.tail_percentile([o.seconds for o in ops])
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "external_cpu_cores": ext_cores,
        "cpu_probe_s": [probe_start, cpu_probe_s()],
        "wsspark_env": {k: v for k, v in os.environ.items() if k.startswith("WSSPARK_")},
        "spark_conf": conf,
        "input_rows": rows,
        "peak_rss_mb": sampler.peak / (1 << 20),
        "samples": len(ops),
        "tail": {"percentile": tail_p, "seconds": tail_v, "samples": len(ops)},
        "named": named,
        "failed_ops": [f"{o.kind}: {o.error}" for o in failed],
    }
    if ctx.traced:
        layers = layer_metrics(
            tracer, measured_from, ops, os.path.join(run_dir, "eventlog"),
            cores, session_span.seconds, layer_extra,
        )
        layers.update({f"trace.{k}": v for k, v in e2e.items()})
        stamp["unattributed_jobs"] = layers.pop("_unattributed_jobs")
        self_s: dict[str, float] = {}
        for sp in tracer.spans[measured_from:]:
            self_s[sp.name] = self_s.get(sp.name, 0.0) + spans.self_time(
                sp, tracer.children(sp)
            )
        stamp["self_time_s"] = self_s
        metrics = layers
    else:
        metrics = e2e
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if ctx.traced else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}"
        )
    print(json.dumps(stamp, default=str))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(attempted),
                "failed": len(failed),
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def layer_metrics(tracer, measured_from, ops, log_dir, cores, session_s,
                  extra) -> dict[str, float]:
    """Per-layer numbers of the measured region from the event log."""
    jobs = spans.parse_jobs(spans.read_events(log_dir))
    spans.attribute(jobs, tracer.spans)
    measured = tracer.spans[measured_from:]
    op_ids = {o.span for o in ops}
    op_spans = [s for s in measured if s.id in op_ids]
    # every span under a measured op (compose/plan/execute children)
    in_ops = {s.id for s in measured if s.id in op_ids or s.parent in op_ids}
    tot = spans.span_totals(jobs, in_ops)
    n_ops = max(1, len(op_spans))
    mb = 1 << 20
    out: dict[str, float] = {"session.get_session_s": session_s}

    def med(values):
        return statistics.median(values) if values else 0.0

    def busy_frac(t, sps):
        wall = sum(s.end - s.start for s in sps)
        return t["run_ms"] / 1000.0 / (wall * cores) if wall else 0.0

    def driver_only(sps):
        vals = []
        for sp in sps:
            t = spans.span_totals(jobs, {sp.id} | {c.id for c in tracer.children(sp)})
            vals.append((sp.end - sp.start) - spans.covered(sp.start, sp.end, t["task_intervals"]))
        return med(vals)

    q_spans = [s for s in op_spans if s.name.startswith("queries.")]
    for phase in ("compose", "plan", "execute"):
        out[f"queries.{phase}_s"] = med(
            [s.seconds for s in measured if s.name == f"queries.{phase}" and s.parent in op_ids]
        )
    out["queries.driver_only_s"] = driver_only(q_spans)
    for label in workloads.QUERY_MIX:
        out[f"queries.{label}_s"] = med([o.seconds for o in ops if o.kind == label])
    p_spans = [s for s in op_spans if s.name == "pipeline.run"]
    out["pipeline.run_s"] = med([s.seconds for s in p_spans])
    out["pipeline.driver_only_s"] = driver_only(p_spans)
    p_tot = spans.span_totals(jobs, {s.id for s in p_spans})
    out["pipeline.jobs"] = p_tot["jobs"] / max(1, len(p_spans))
    out["pipeline.busy_frac"] = busy_frac(p_tot, p_spans)
    out.update(
        {
            "spark.jobs": tot["jobs"] / n_ops,
            "spark.tasks": tot["tasks"] / n_ops,
            "spark.busy_frac": busy_frac(tot, op_spans),
            "spark.executor_run_s": tot["run_ms"] / 1000.0 / n_ops,
            "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n_ops,
            "spark.gc_s": tot["gc_ms"] / 1000.0 / n_ops,
            "spark.shuffle_read_mb": tot["shuffle_read"] / mb / n_ops,
            "spark.shuffle_write_mb": tot["shuffle_write"] / mb / n_ops,
            "spark.spill_mb": tot["spill"] / mb / n_ops,
            "spark.scan_mb": tot["scan_bytes"] / mb / n_ops,
            "spark.scan_rows": tot["scan_rows"] / n_ops,
            "spark.output_mb": tot["output_bytes"] / mb / n_ops,
            "spark.untagged_jobs": tot["untagged_jobs"],
            "llmops.python_run_s": tot["py_ms"] / 1000.0 / n_ops,
            "llmops.python_sent_mb": tot["py_sent"] / mb / n_ops,
        }
    )
    for kind in ("commit", "update_where", "delete_dv", "read_between",
                 "read_version", "compact", "vacuum"):
        out[f"snapstore.{kind}_s"] = med([o.seconds for o in ops if o.kind == kind])
    out["ops.incremental.mv_refresh_s"] = med(
        [o.seconds for o in ops if o.kind == "mv_refresh"]
    )
    for key in ("snapstore.meta_bytes_per_commit", "snapstore.data_bytes_per_commit",
                "snapstore.detail_parts", "snapstore.prune_ratio", "snapstore.space_amp"):
        out[key] = extra.get(key, 0.0)
    out["_unattributed_jobs"] = sum(1 for j in jobs if j.span is None)
    return out


if __name__ == "__main__":
    sys.exit(main())
