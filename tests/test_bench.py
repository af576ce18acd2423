"""bench.py's per-seat record, the rule that keeps measurement in
bench.py and perfbench/ rather than in one-off scripts, and the rule
that sizes range partitions by the session rather than by a literal.

The seat test runs one cheap seat through ``bench.time_seat``: its
seat time is the minimum warm run, and its cold and warm layer
records carry the stage metrics perfbench's StageMetrics sums."""

from __future__ import annotations

import os
import pathlib
import re

import bench
from nucliadb_spark import registry

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
ROUND_STAMP = re.compile(r"(^|_)r\d+[a-z]?(_|\.)|^quiet_")


def test_time_seat_records_cold_and_warm_layers(spark, sf_dir):
    seat = bench.time_seat(spark, sf_dir, "bm25_keyword", registry.queries()["bm25_keyword"])

    runs = seat["query_runs"]
    assert len(runs) in (bench.TIMED_RUNS, bench.TIMED_RUNS + 1)
    assert seat["queries"] == min(runs)

    cold, warm = seat["query_cold"], seat["query_layers"]
    for rec in (cold, warm):
        assert set(bench.LAYER_FIELDS) | {"evictions"} <= set(rec)
        assert rec["jobs"] >= 1
    assert cold["construct_s"] <= cold["wall_s"]
    assert len(warm["construct_s"]) == len(runs)
    assert all(c <= w for c, w in zip(warm["construct_s"], runs))


def test_no_round_stamped_scripts():
    # A/B timing is perfbench/run.py's job and the per-seat ledger is
    # bench.py's; a script named for one round is a copy of one of them
    stamped = sorted(n for n in os.listdir(SCRIPTS) if ROUND_STAMP.search(n))
    assert stamped == []


def test_no_fixed_range_partition_counts():
    # a sorted sidecar takes its partition count from the session
    # (cache.sorted_sidecar); a literal count is wrong on every machine
    # but the one it was tuned on
    pkg = pathlib.Path(SCRIPTS).parent / "nucliadb_spark"
    fixed = re.compile(r"repartitionByRange\(\s*\d")
    offenders = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if fixed.search(p.read_text())
    )
    assert offenders == []
