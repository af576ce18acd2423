"""Fast checks of the benchmark's own logic; no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from itertools import islice

import pytest

from perfbench import stats, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_byte_identical_ops(name):
    assert workloads.stream_bytes(name, 7, 300) == workloads.stream_bytes(name, 7, 300)
    assert workloads.stream_bytes(name, 7, 300) != workloads.stream_bytes(name, 8, 300)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_seed_times_the_same_mix_of_ops(name):
    wl = workloads.WORKLOADS[name]

    def mix(seed):
        ops = list(islice(workloads.STREAMS[name](seed), wl.warmup_ops + wl.timed_ops))
        return [op["kind"] for op in ops[wl.warmup_ops :]]

    kinds = mix(1)
    assert all(mix(seed) == kinds for seed in range(2, 30))
    if name == "find_live":
        assert kinds.count("first") == len(workloads.SHAPES)
    else:
        assert kinds.count("drain") == kinds.count("vacuum") == 1


def test_asof_reads_stay_between_horizon_and_drained_head():
    horizon, head = -1, None
    for op in islice(workloads.asof_cdc_stream(3), 500):
        if op["kind"] == "drain":
            head = op["upto"]
        elif op["kind"] == "vacuum":
            assert op["horizon"] >= horizon and op["horizon"] <= head
            horizon = op["horizon"]
        else:
            assert head is not None and horizon <= op["seq"] <= head


def test_find_live_repeats_only_seen_requests():
    seen = []
    for op in islice(workloads.find_live_stream(5), 400):
        if op["kind"] == "first":
            assert op["req"] not in seen
            seen.append(op["req"])
        else:
            assert op["req"] in seen


def test_metric_names_and_units_use_the_allowed_characters():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert stats.NAME_RE.match(m["name"]), m["name"]
        assert stats.UNIT_RE.match(m["unit"]), m["unit"]
    for w in bench["workloads"]:
        assert stats.NAME_RE.match(w["name"]) and w["name"] in workloads.WORKLOADS


def test_benchmark_json_lists_the_metrics_the_harness_reports():
    from perfbench import harness

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.PER_LAYER


@pytest.mark.parametrize(
    "n, p",
    [(1, 50), (19, 50), (20, 50), (40, 75), (60, 83), (100, 90), (1000, 99)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if n >= 2 * stats.TAIL_BEYOND:
        assert n * (100 - p) / 100 >= stats.TAIL_BEYOND
        assert n * (100 - (p + 1)) / 100 < stats.TAIL_BEYOND


def test_percentile_interpolates():
    xs = [float(x) for x in range(1, 101)]
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.tail(xs) == (pytest.approx(90.1), 90)
