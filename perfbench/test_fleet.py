"""The benchmark's inputs depend on the seed alone.

    python3 -m pytest perfbench/test_fleet.py -q
"""

import itertools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fleet import (  # noqa: E402
    BACKLOG_MINUTES,
    HOSTS,
    METRICS,
    Fleet,
    dashboard_loads,
    ingest_cycle,
)


def inputs(seed: int) -> dict:
    fleet = Fleet(seed)
    return {
        "backlog": [fleet.line(p) for p in fleet.points(0, BACKLOG_MINUTES)],
        "dashboard": list(itertools.islice(dashboard_loads(fleet), 4)),
        "ingest": [ingest_cycle(k) for k in range(4)],
        "puts": [fleet.put_body(BACKLOG_MINUTES + k) for k in range(4)],
    }


def test_same_seed_same_inputs():
    assert inputs(7) == inputs(7)


def test_seed_changes_data_and_requests():
    a, b = inputs(7), inputs(8)
    assert a["backlog"] != b["backlog"]
    assert a["dashboard"] != b["dashboard"]
    assert a["puts"] != b["puts"]


def test_sizes_and_put_body_cap():
    a = inputs(7)
    assert len(a["backlog"]) == BACKLOG_MINUTES * len(METRICS) * HOSTS
    for body in a["puts"]:
        assert len(body) == len(METRICS) * HOSTS
        # TimelyHttpServer answers 413 above 64 KB
        assert len(json.dumps(body).encode()) < 65536
