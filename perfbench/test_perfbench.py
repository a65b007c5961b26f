"""Checks of the benchmark's own machinery; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""
from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import sources, trace  # noqa: E402
from perfbench.workload import Workload  # noqa: E402


def _workload(result, kind="code"):
    """A Workload whose timed operation returns ``result`` instead of
    running Spark, so only the output check is exercised."""
    w = object.__new__(Workload)
    w.kind = kind
    w.cols = sources.CODE_COLS if kind == "code" else sources.LINEITEM_COLS
    w.samples, w.attempted, w.failed, w.failures = {}, 0, 0, []
    w.spark = w.store = None
    w.last_summary = {"raw_bytes": 1_000_000}
    w.tracer = trace.NullTracer()

    def fake(op, fn):
        w.attempted += 1
        return 0.5, result

    w._timed = fake
    return w


def _code_rows(n=3):
    return sources.code_table(seed=5).slice(0, n).select(sources.CODE_COLS)


@pytest.mark.parametrize("tamper", [False, True])
def test_lookup_check_reports_tampered_expectation(tamper):
    got = _code_rows(1)
    key = ("commit", got["commit"][0].as_py())
    w = _workload(got)
    want = sources.normalize_rows(got)
    if tamper:
        want = [tuple(v + "x" if i == 1 else v for i, v in enumerate(r))
                for r in want]
    w.lookup_expected = {key: want}
    w.lookup(key)
    assert (w.attempted, w.failed) == (1, int(tamper))


@pytest.mark.parametrize("tamper", [False, True])
def test_scan_check_reports_tampered_digest(tamper):
    w = _workload((40_000, 123))
    w.digest = (40_000, 124 if tamper else 123)
    w.scan()
    assert w.failed == int(tamper)
    assert len(w.samples["scan_mbps"]) == 1


def test_q1_comparison_tolerates_summation_order_only():
    want = [("A", "F", 10.0, 303460466.11, 6)]
    assert Workload.same_q1([("A", "F", 10.0, 303460466.12, 6)], want)
    assert not Workload.same_q1([("A", "F", 10.0, 303460467.11, 6)], want)
    assert not Workload.same_q1([("A", "F", 11.0, 303460466.11, 6)], want)
    assert not Workload.same_q1([("A", "F", 10.0, 303460466.11, 7)], want)
    assert not Workload.same_q1([], want)


def test_lookup_rows_compare_timestamps_across_time_zones():
    ts = pa.array([1_000_000], type=pa.timestamp("us"))
    utc = pa.array([1_000_000], type=pa.timestamp("us", tz="UTC"))
    assert (sources.normalize_rows(pa.table({"t": ts}))
            == sources.normalize_rows(pa.table({"t": utc})))


def test_sources_repeat_for_a_seed():
    a, b = sources.lineitem_table(3), sources.lineitem_table(3)
    assert a.equals(b)
    assert not a.equals(sources.lineitem_table(4))
    keys = sources.lookup_keys(a, "lineitem", 3, 8)
    assert keys == sources.lookup_keys(b, "lineitem", 3, 8)
    assert all(sources.expected_lookup(a, k) for k in keys)


def test_ledger_self_time_excludes_children():
    tr = trace.Tracer()
    tr.spans = [
        {"id": 0, "parent": None, "name": "op.encode", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "pipeline.write", "start": 1.0, "end": 9.0},
        {"id": 2, "parent": 1, "name": "exec.udf_write", "start": 2.0, "end": 6.0,
         "exec": {"nodes": []}},
        {"id": 3, "parent": 1, "name": "exec.write", "start": 5.0, "end": 8.0,
         "exec": {"nodes": []}},
    ]
    led = trace.ledger(tr)["encode"]
    assert led["wall_s"] == 10.0
    assert led["unattributed_s"] == 2.0
    assert led["self_s"] == {"pipeline.write": 2.0, "exec.udf_write": 4.0,
                             "exec.write": 3.0}


def test_status_store_metric_parsing():
    dot = ('  3 [id="node3" labelType="html" label="<b>MapInArrow</b><br><br>'
           'time to run Python workers: 1.4 s<br>data sent to Python workers: '
           '2.6 MiB<br>data size total (min, med, max (stageId: taskId))<br>'
           '250.0 KiB (62.5 KiB, 62.5 KiB, 62.5 KiB (stage 4.0: task 9))<br>'
           'number of output rows: 2,000" tooltip="MapInArrow f(x)"];')
    (node,) = trace.parse_plan(dot)
    assert node["name"] == "MapInArrow"
    assert node["metrics"] == {
        "time to run Python workers": 1.4,
        "data sent to Python workers": 2.6 * (1 << 20),
        "data size": 250.0 * 1024,
        "number of output rows": 2000.0}
