"""Re-record the event-log fixture used by test_helpers.py:

    python3 perfbench/tests/fixtures/record.py

Runs a few Spark jobs inside benchmark spans on local[2] (one of them from
a pool thread, which loses the span property), then keeps only the events
and fields the event-log reader uses.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import spans  # noqa: E402

KEEP_EVENTS = {"SparkListenerJobStart", "SparkListenerTaskEnd"}
KEEP_TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time", "Disk Bytes Spilled",
    "Shuffle Read Metrics", "Shuffle Write Metrics", "Input Metrics", "Output Metrics",
)


def _trim(ev: dict) -> dict:
    if ev["Event"] == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {
            "Event": ev["Event"],
            "Job ID": ev["Job ID"],
            "Submission Time": ev["Submission Time"],
            "Stage IDs": ev["Stage IDs"],
            "Properties": {k: v for k, v in props.items() if k == spans.SPAN_PROPERTY},
        }
    info = ev["Task Info"]
    metrics = ev.get("Task Metrics") or {}
    return {
        "Event": ev["Event"],
        "Stage ID": ev["Stage ID"],
        "Task Info": {k: info[k] for k in ("Task ID", "Launch Time", "Finish Time")},
        "Task Metrics": {k: v for k, v in metrics.items() if k in KEEP_TASK_METRICS},
    }


def main() -> None:
    from pyspark.sql import SparkSession

    work = tempfile.mkdtemp()
    table = os.path.join(work, "t.parquet")
    pq.write_table(pa.table({"x": list(range(1000))}), table)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + work)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    tr = spans.Tracer(spark.sparkContext)
    with tr.span("scan"):
        spark.read.parquet(table).count()
    with tr.span("pooled"):
        with ThreadPoolExecutor(1) as pool:
            pool.submit(lambda: spark.range(100).count()).result()
    with tr.span("outer"):
        with tr.span("inner"):
            df = spark.read.parquet(table)
            df.groupBy(df.x % 3).count().collect()
    spark.stop()

    out = os.path.join(HERE, "eventlog")
    shutil.rmtree(out, ignore_errors=True)
    app_dir = os.path.join(out, "eventlog_v2_local-fixture")
    os.makedirs(app_dir)
    events = [_trim(e) for e in spans.read_events(work) if e.get("Event") in KEEP_EVENTS]
    with open(os.path.join(app_dir, "events_1_local-fixture"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    with open(os.path.join(HERE, "spans.json"), "w") as f:
        json.dump(
            [
                {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
                for s in tr.spans
            ],
            f,
            indent=1,
        )
    # expected owner: the span id the JVM recorded on the job, or for the
    # pool-thread job (no property) the span that submitted it
    expected = {
        j.id: tr.spans[int(j.span_prop)].name if j.span_prop else "pooled"
        for j in spans.parse_jobs(events)
    }
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for p in glob.glob(os.path.join(HERE, "*.json")):
        print(p)


if __name__ == "__main__":
    main()
