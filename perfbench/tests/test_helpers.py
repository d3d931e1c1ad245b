"""Tests for the benchmark's own helpers: the tail-percentile rule, span
self time, job-to-span attribution on a recorded event log, and the seeded
input generator. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog")


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
     (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    p, v = spans.tail_percentile([float(i) for i in range(1, n + 1)])
    assert p == expected
    if expected is None:
        assert v is None
    else:
        # nearest rank: exactly n * (1 - p) >= 10 samples lie above v
        assert sum(1 for i in range(1, n + 1) if i > v) >= 10


def test_tail_percentile_value_is_nearest_rank():
    values = list(range(100, 0, -1))  # order must not matter
    assert spans.tail_percentile(values) == (90.0, 90)


def _span(i, s, e, parent=None):
    return spans.Span(i, f"s{i}", parent, s, e)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    # overlapping children cover [1, 5]; the third is clipped to [8, 10]
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    assert spans.covered(0.0, 10.0, kids) == pytest.approx(6.0)
    assert spans.self_time(parent, kids) == pytest.approx(4.0)
    assert spans.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_times_them():
    tr = spans.Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert tr.children(outer) == [inner]


def _fixture_spans():
    with open(os.path.join(HERE, "fixtures", "spans.json")) as f:
        return [spans.Span(**s) for s in json.load(f)]


def test_event_log_jobs_attribute_to_spans_by_submission_time():
    jobs = spans.parse_jobs(spans.read_events(FIXTURE))
    sps = _fixture_spans()
    spans.attribute(jobs, sps)
    by_name = {s.id: s.name for s in sps}
    got = {j.id: by_name.get(j.span) for j in jobs}
    with open(os.path.join(HERE, "fixtures", "expected.json")) as f:
        want = {int(k): v for k, v in json.load(f).items()}
    assert got == want
    # every job lands in a span; the pool thread's jobs lost the property
    assert all(j.span is not None for j in jobs)
    untagged = [j for j in jobs if j.span_prop is None]
    assert untagged and {by_name[j.span] for j in untagged} == {"pooled"}
    tot = spans.span_totals(jobs, {s.id for s in sps})
    assert tot["jobs"] == len(jobs) and tot["untagged_jobs"] == len(untagged)
    assert tot["tasks"] == sum(len(j.tasks) for j in jobs) > 0
    assert tot["run_ms"] > 0 and tot["scan_rows"] > 0


def _abc_report(classes):
    rev = np.array([50.0, 30.00001, 14.99999, 5.0])  # the second share is 0.8000001
    cum = np.cumsum(rev)
    return pd.DataFrame(
        {
            "product_id": [4, 3, 2, 1],
            "revenue": rev,
            "total_revenue": cum[-1],
            "revenue_cumsum": cum,
            "revenue_percent": cum / cum[-1],
            "abc_class": classes,
        }
    ).iloc[::-1]  # row order must not matter


def test_pareto_check_classes_on_the_unrounded_share():
    assert checks.pareto_ok(_abc_report(["A", "B", "B", "C"]))
    # a 6-digit rounded share (0.800000) would class the second product A
    assert not checks.pareto_ok(_abc_report(["A", "A", "B", "C"]))
    bad = _abc_report(["A", "B", "B", "C"])
    bad["revenue_cumsum"] = bad["revenue_cumsum"] + 1.0
    assert not checks.pareto_ok(bad)


def _tiny_source(path: str) -> None:
    os.makedirs(path)
    rng = np.random.default_rng(0)
    n_orders = 200
    lines = np.repeat(np.arange(n_orders), 3)

    def w(name, **cols):
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    w("region", r_regionkey=[0, 1])
    w("nation", n_nationkey=[0, 1], n_regionkey=[0, 1])
    w("customer", c_custkey=[1, 2])
    w("supplier", s_suppkey=[1, 2])
    w("part", p_partkey=[1, 2, 3])
    w("embeddings", vec_id=[1, 2])
    w("orders", o_orderkey=np.arange(n_orders))
    w(
        "lineitem",
        l_orderkey=lines,
        l_shipdate=pa.array(
            np.datetime64("2000-01-01") + rng.integers(0, 400, len(lines)).astype("timedelta64[D]"),
            pa.timestamp("us"),
        ),
    )
    w("events", user_id=rng.integers(0, 50, 500))
    w("documents", doc_id=np.arange(100))


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            out[t] = f.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    src = str(tmp_path / "src")
    _tiny_source(src)
    a = gen.derive(str(tmp_path / "a"), 1, 0.5, src=src)
    b = gen.derive(str(tmp_path / "b"), 1, 0.5, src=src)
    c = gen.derive(str(tmp_path / "c"), 2, 0.5, src=src)
    assert a == b
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))
    ba, bc = _bytes(str(tmp_path / "a")), _bytes(str(tmp_path / "c"))
    assert ba["lineitem"] != bc["lineitem"] and ba["orders"] != bc["orders"]
    # dimensions are copied verbatim; kept lineitems keep their order
    assert ba["part"] == bc["part"]
    orders = set(pq.read_table(str(tmp_path / "a" / "orders.parquet"))["o_orderkey"].to_pylist())
    li = pq.read_table(str(tmp_path / "a" / "lineitem.parquet"))["l_orderkey"].to_pylist()
    assert set(li) == orders and len(li) == 3 * len(orders)
    assert 0 < a["orders"] < 200


def test_watermark_leaves_the_requested_delta(tmp_path):
    src = str(tmp_path / "src")
    _tiny_source(src)
    since = gen.watermark(src, 0.05)
    ship = pq.read_table(os.path.join(src, "lineitem.parquet"))["l_shipdate"].to_pylist()
    after = sum(1 for t in ship if t.strftime("%Y-%m-%d %H:%M:%S") > since)
    assert 0 < after <= 0.06 * len(ship)
