"""Tests of the benchmark's own code: generator determinism, the
last-write-wins reference, the answer checker, the host-speed scaling, and
a smoke run of every workload through ``run.py``.

Run from the repository root:
    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from gen import BASE_NS, TICK_NS, Fleet, Record  # noqa: E402
from reference import Mismatch, Reference, compare  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bodies(seed: int) -> list[str]:
    fleet = Fleet(seed, 20)
    out = [fleet.request_lines(300).body for _ in range(3)]
    out += [fleet.request_ticks(1).body for _ in range(3)]
    return out


def test_same_seed_gives_identical_request_bodies():
    assert _bodies(5) == _bodies(5)
    assert _bodies(5) != _bodies(6)


def test_stream_has_late_and_resent_lines():
    fleet = Fleet(3, 50)
    first = fleet.request_lines(2000)
    newest = max(r.time_ns for r in first.records)
    later = [fleet.request_lines(2000) for _ in range(3)]
    records = [r for req in later for r in req.records]
    assert any(r.time_ns < newest for r in records)  # late or re-sent
    assert any(len(r.fields) < 3 for r in records)  # partial re-send
    assert all(len(req.body.splitlines()) == 2000 for req in later)


def test_lww_reference_keeps_earlier_value_under_later_null():
    fleet = Fleet(1, 2)
    t0, t1 = BASE_NS, BASE_NS + TICK_NS
    full = {"latitude": 1.0, "longitude": 2.0, "elevation": 3.0, "velocity": 4.0,
            "heading": 5.0, "grade": 6.0, "fuel_consumption": 7.0}
    ref = Reference(fleet)
    ref.apply([Record("readings", "truck_0", t0, full),
               Record("readings", "truck_0", t1, full)])
    # re-send of the t0 point: new velocity, every other field omitted (NULL)
    ref.apply([Record("readings", "truck_0", t0, {"velocity": 40.0})])
    # a second re-send in one request: the later line wins
    ref.apply([Record("readings", "truck_0", t1, {"grade": 60.0}),
               Record("readings", "truck_0", t1, {"grade": 61.0})])
    rows = ref.rows(
        "SELECT time, latitude, velocity, grade FROM readings ORDER BY time")
    ref.close()
    assert rows == [
        (datetime(2016, 1, 1, 0, 0, 0), 1.0, 40.0, 6.0),
        (datetime(2016, 1, 1, 0, 0, 10), 1.0, 4.0, 61.0),
    ]


def _table():
    return pa.table({
        "t": pa.array([0, 10_000_000], pa.timestamp("us", tz="UTC")),
        "name": ["a", "b"],
        "v": [1.5, 2.25],
    })


def test_checker_accepts_right_answer_in_any_row_order():
    compare(_table(), [(datetime(1970, 1, 1, 0, 0, 10), "b", 2.25 + 1e-13),
                       (datetime(1970, 1, 1), "a", 1.5)])


@pytest.mark.parametrize("wrong", [
    [(datetime(1970, 1, 1), "a", 1.5)],  # a row missing
    [(datetime(1970, 1, 1), "a", 1.5), (datetime(1970, 1, 1, 0, 0, 10), "b", 2.5)],
    [(datetime(1970, 1, 1), "a", 1.5), (datetime(1970, 1, 1, 0, 0, 11), "b", 2.25)],
    [(datetime(1970, 1, 1), "a", 1.5), (datetime(1970, 1, 1, 0, 0, 10), "b", None)],
])
def test_checker_flags_wrong_answer(wrong):
    with pytest.raises(Mismatch):
        compare(_table(), wrong)


def test_host_ref_scales_each_segment_by_the_reference_after_it(tmp_path):
    from worker import HostRef

    ref = HostRef(None, str(tmp_path))
    latencies = iter([1.0, 0.25])
    ref.run = lambda: next(latencies)  # no Spark: fixed reference latencies
    k1, k2 = ref.REF_S / 1.0, ref.REF_S / 0.25
    ref.add(query=0.4 * ref.EVERY_S)  # segment still open
    assert ref.samples == [] and ref.scaled == {}
    ref.add(query=0.6 * ref.EVERY_S, write=0.1)  # closes: one reference op
    ref.add(write=ref.EVERY_S)  # closes on its own
    assert ref.samples == [1.0, 0.25]
    assert ref.scaled["query"] == pytest.approx([0.4 * ref.EVERY_S * k1,
                                                 0.6 * ref.EVERY_S * k1])
    assert ref.scaled["write"] == pytest.approx([0.1 * k1, ref.EVERY_S * k2])


def test_timed_phase_size_depends_on_seconds_only():
    wl = WORKLOADS["iot_mixed"](Fleet(1, 10), None, 1)
    assert wl.cycles(1) == 1
    assert wl.cycles(3 * wl.cycle_s) == 3


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_has_no_failed_ops(workload):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0", "--size", "smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_smoke_run_reports_every_layer_metric():
    p = _run("--workload", "iot_mixed", "--seed", "3", "--seconds", "1",
             "--trace", "1", "--size", "smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0, p.stdout
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(result["metrics"]) == names
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs_per_query"] > 0 and m["catalog.insert_jobs"] > 0
    assert m["sources.lines_per_req"] > 0 and m["transport.bytes_per_query"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "iot_ingest", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""

