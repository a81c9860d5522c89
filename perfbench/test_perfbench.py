"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import types

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from metrics import (  # noqa: E402
    StorageMeter, failed_ratio, file_inodes, percentile, self_times,
    tail_percentile,
)
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, QueryDriver  # noqa: E402


def test_each_workload_reports_the_tail_documented():
    assert {w.name: w.tail_pct for w in WORKLOADS.values()} == {
        "dashboard": 75.0, "driver_bound": 75.0}


@pytest.mark.parametrize("n, beyond, want", [
    (1000, 10, 99.0), (200, 10, 95.0), (100, 10, 90.0), (40, 10, 75.0),
    (20, 10, 50.0), (19, 10, None), (16, 2, 75.0), (20, 2, 90.0),
    (22, 2, 90.0), (8, 2, 75.0), (7, 2, 50.0),
])
def test_tail_percentile_is_highest_with_enough_ops_beyond(n, beyond, want):
    assert tail_percentile(n, beyond) == want


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 75) == pytest.approx(3.25)
    assert percentile(xs, 100) == 4.0


def _span(i, parent, start, end, name="s", op="a"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "name": name, "op": op}


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),   # overlaps its sibling by 1 s
        _span(3, 1, 3.0, 6.0),
        _span(4, 2, 2.0, 3.0),   # grandchild: charged to span 2 only
        _span(5, 1, 9.5, 11.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_nested_calls_of_one_verb_count_as_calls_but_not_twice_as_time():
    tr = Tracer(enabled=True)
    tr.spans = [
        _span(1, None, 0.0, 4.0, "ingest.read_version"),
        _span(2, 1, 1.0, 2.0, "ingest.read_version"),
        _span(3, None, 5.0, 6.0, "ingest.read_version", op="b"),
    ]
    assert tr.inclusive_by_name({"a"}) == {"ingest.read_version": (2, 4.0)}
    assert tr.self_time_by_name({"a"})["ingest.read_version"] == pytest.approx(3.0 + 1.0)


class _FakeFrame:
    """Enough of a DataFrame for one query op and its check."""

    def __init__(self, pdf):
        self.pdf = pdf
        self.schema = types.SimpleNamespace(fields=[])

    def toPandas(self):
        return self.pdf


def test_a_wrong_answer_counts_in_failed_ratio():
    from tests.oracle_harness import canon

    right = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    wrong = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})

    def query(*answers):
        it = iter(answers)
        return types.SimpleNamespace(fn=lambda spark, sf_dir: _FakeFrame(next(it)))

    registry = {
        "ok": query(right, right),
        "bad": query(wrong, wrong),
        "stale": query(right, wrong),  # wrong only when called again
        "boom": types.SimpleNamespace(fn=lambda spark, sf_dir: 1 / 0),
    }
    expected = {n: canon(right) for n in registry}
    drv = QueryDriver(None, registry, "", expected, Tracer(False), None)
    for cycle in range(2):
        drv.cycle(list(registry), cycle, traced_run=False)
    assert failed_ratio(drv.ops) == pytest.approx(5 / 8)
    errors = [(o["name"], o["error"]) for o in drv.ops]
    assert errors[0] == ("ok", None) and errors[4] == ("ok", None)
    assert errors[1][1].startswith("wrong result: col v row 1")
    assert errors[2] == ("stale", None)
    assert errors[6][1].startswith("wrong result: col v row 1")
    assert errors[3][1].startswith("ZeroDivisionError")


def _write(path, n):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * n)


def test_amplification_counts_a_hardlinked_file_once(tmp_path):
    root = str(tmp_path / "t")
    _write(f"{root}/v=1/a.parquet", 1000)
    _write(f"{root}/v=1/b.parquet", 1000)
    meter = StorageMeter(root)
    # v=2 keeps a by hardlink, rewrites b as c
    os.makedirs(f"{root}/v=2")
    os.link(f"{root}/v=1/a.parquet", f"{root}/v=2/a.parquet")
    _write(f"{root}/v=2/c.parquet", 500)
    meter.observe(delta_bytes=250, new_dir=f"{root}/v=2")
    assert len(file_inodes(root)) == 3
    assert (meter.bytes_written, meter.files_written, meter.files_hardlinked) == (500, 1, 1)
    assert meter.write_amp() == pytest.approx(2.0)
    snap = [f"{root}/v=2/a.parquet", f"{root}/v=2/c.parquet"]
    assert meter.space_amp(snap) == pytest.approx(2500 / 1500)
    # a commit that writes nothing new adds delta but no bytes
    meter.observe(delta_bytes=250)
    assert meter.write_amp() == pytest.approx(1.0)


def test_a_write_whose_snapshot_differs_from_the_model_fails(tmp_path):
    from lakehouse import Lakehouse

    lake = Lakehouse.__new__(Lakehouse)  # no session: the verbs are faked
    lake.tracer, lake.counters, lake.traced_run = Tracer(False), None, False
    lake.n = lake.k = lake.cycles = 0
    lake.ops, lake.path = [], str(tmp_path)
    lake.model = types.SimpleNamespace(versions=[1])
    lake.meter = StorageMeter(lake.path)
    lake.snapshot_diff = lambda: "row count differs: 3 vs 2"
    lake._op("merge_upsert", lambda run: 2, expect=lake.model.versions.append)
    lake._op("read_version", lambda run: 5, expect=lambda n: None)
    assert [o["ok"] for o in lake.ops] == [False, True]
    assert lake.ops[0]["error"] == "wrong result: row count differs: 3 vs 2"
    assert failed_ratio(lake.ops) == pytest.approx(0.5)
