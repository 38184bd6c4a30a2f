"""Seeded synthetic fleet and request streams for the serving benchmark.

Pure Python, no Spark: everything a run sends to the engine comes from
here, so the same seed gives the same backlog lines, put bodies and
requests in every run (``test_fleet.py`` pins that).

The fleet follows the ``tools/loadgen.py`` templates: 6 metrics (two
uniform gauges, two ramps, a wrapping counter and a lognormal latency)
on 64 hosts in 4 racks, one point per series per minute. A seeded
subset of hosts carries a ``viz`` label: ``OPS`` (held by the
benchmark user) or ``SEC`` (not held), so visibility enforcement stays
on the query path and changes results.

All request times derive from the fleet clock (``BASE_MS`` plus whole
minutes), never from wall time.
"""

from __future__ import annotations

import itertools
import math
import random

BASE_MS = 1_699_920_000_000  # a UTC midnight: the backlog sits in one day partition
MINUTE_MS = 60_000
HOUR_MS = 60 * MINUTE_MS

METRICS = (
    ("sys.cpu.user", "uniform"),
    ("sys.cpu.idle", "uniform"),
    ("sys.eth0.rx", "ramp"),
    ("sys.eth0.tx", "ramp"),
    ("app.req.count", "counter"),
    ("app.req.latency", "lognormal"),
)
HOSTS = 64
RACKS = 4
COUNTER_MAX = 65535
HELD_AUTH = "OPS"
HIDDEN_AUTH = "SEC"
LABELED_PER_AUTH = 8  # hosts labeled OPS, and as many labeled SEC

HOT_WINDOW_MS = 2 * HOUR_MS
BACKLOG_MINUTES = 3 * HOT_WINDOW_MS // MINUTE_MS  # 6 h: the window fits, the store holds 3x it
PANELS_PER_LOAD = 2  # dashboard_recent: a load is its panels, then one lookup per template-variable kind
SUGGEST_KINDS = ("metrics", "tagk", "tagv")
INGEST_QUERY_MS = 15 * MINUTE_MS
SUGGEST_MAX = 100
WORKLOADS = ("dashboard_recent", "ingest_mixed")


def host_name(h: int) -> str:
    return f"h{h:03d}"


def rack_name(h: int) -> str:
    return f"r{h * RACKS // HOSTS}"


def minute_end_ms(minute: int) -> int:
    """Last millisecond of fleet minute ``minute`` (a query ``end``)."""
    return BASE_MS + (minute + 1) * MINUTE_MS - 1


class Fleet:
    """The seeded point source. Minutes are generated in order and kept,
    so any access pattern sees the same values."""

    def __init__(self, seed: int):
        self.seed = seed
        rnd = random.Random(f"{seed}:fleet")
        labeled = rnd.sample(range(HOSTS), 2 * LABELED_PER_AUTH)
        self.viz = {h: HELD_AUTH for h in labeled[:LABELED_PER_AUTH]}
        self.viz.update({h: HIDDEN_AUTH for h in labeled[LABELED_PER_AUTH:]})
        self._counter = [rnd.uniform(0, COUNTER_MAX) for _ in range(HOSTS)]
        self._ramp = [rnd.uniform(0, 1000) for _ in range(HOSTS)]
        self._rnd = random.Random(f"{seed}:values")
        self._tags = [
            f"host={host_name(h)} rack={rack_name(h)}" + (f" viz={self.viz[h]}" if h in self.viz else "")
            for h in range(HOSTS)
        ]
        # per minute: list of (metric, ts, value text, host)
        self._minutes: list[list[tuple[str, int, str, int]]] = []

    def minute(self, m: int) -> list[tuple[str, int, str, int]]:
        while len(self._minutes) <= m:
            self._minutes.append(self._generate(len(self._minutes)))
        return self._minutes[m]

    def _generate(self, m: int) -> list[tuple[str, int, str, int]]:
        rnd = self._rnd
        ts = BASE_MS + m * MINUTE_MS
        out = []
        for metric, shape in METRICS:
            if shape == "uniform":
                vs = [rnd.uniform(0, 100) for _ in range(HOSTS)]
            elif shape == "ramp":
                vs = [self._ramp[h] + m * (1 + h % 5) for h in range(HOSTS)]
            elif shape == "counter":
                c = self._counter
                for h in range(HOSTS):
                    c[h] = (c[h] + rnd.uniform(0, 600)) % COUNTER_MAX
                vs = c
            else:
                vs = [math.exp(rnd.gauss(3, 1)) for _ in range(HOSTS)]
            # the text form is the value of record: lines carry it, and
            # JSON puts and the oracle parse it, so all three agree
            out.extend((metric, ts, f"{v:.4f}", h) for h, v in enumerate(vs))
        return out

    def points(self, first: int, last: int) -> list[tuple[str, int, str, int]]:
        """Points of minutes ``first`` .. ``last - 1``."""
        return [p for m in range(first, last) for p in self.minute(m)]

    def line(self, p) -> str:
        metric, ts, v, h = p
        return f"put {metric} {ts} {v} {self._tags[h]}"

    def put_body(self, m: int) -> list[dict]:
        """One ``/api/put`` body: every series' point of minute ``m``."""
        body = []
        for metric, ts, v, h in self.minute(m):
            tags = {"host": host_name(h), "rack": rack_name(h)}
            if h in self.viz:
                tags["viz"] = self.viz[h]
            body.append({"metric": metric, "timestamp": ts, "value": float(v), "tags": tags})
        return body

    def visible_hosts(self) -> list[int]:
        return [h for h in range(HOSTS) if self.viz.get(h) != HIDDEN_AUTH]


# ------------------------------------------------------------- requests

COUNTER_RATE = {"rate": True, "rateOptions": {"counter": True, "counterMax": COUNTER_MAX}}


def _suggest(kind: str, i: int) -> dict:
    """A Grafana template-variable lookup; ``i`` rotates the metric."""
    params = {"type": kind, "max": str(SUGGEST_MAX)}
    if kind != "metrics":
        params["m"] = METRICS[i % len(METRICS)][0]
    if kind == "tagv":
        params["t"] = "host"
    return {"op": "suggest", "params": params}


def dashboard_loads(fleet: Fleet):
    """dashboard_recent: endless stream of dashboard loads, each
    ``PANELS_PER_LOAD`` panels and then one suggest of each kind (the
    template variables)."""
    rnd = random.Random(f"{fleet.seed}:dashboard")
    visible = fleet.visible_hosts()
    for load in itertools.count():
        yield [_panel(rnd, visible) for _ in range(PANELS_PER_LOAD)] + [
            _suggest(kind, load) for kind in SUGGEST_KINDS
        ]


def _panel(rnd: random.Random, visible: list[int]) -> dict:
    """One Grafana panel: exactly 3 SubQueries over the last hour at 1m,
    a host literal, a host regex (two-stage: 1m-avg per series, max
    across) and a counter rate per rack (two-stage). The literal host is
    always a visible one: a hidden host would empty the SubQuery and add
    the strict-mode catalog probe, a second cost class."""
    end = minute_end_ms(BACKLOG_MINUTES - 1)
    return {
        "op": "query",
        "body": {
            "start": end - HOUR_MS + 1,
            "end": end,
            "msResolution": True,
            "queries": [
                {
                    "metric": "sys.cpu.user",
                    "aggregator": "avg",
                    "downsample": "1m-avg",
                    "tags": {"host": host_name(rnd.choice(visible))},
                },
                {
                    "metric": "app.req.latency",
                    "aggregator": "max",
                    "downsample": "1m-avg",
                    "tags": {"host": f"h0{rnd.randrange(6)}[0-9]"},
                },
                {
                    "metric": "app.req.count",
                    "aggregator": "sum",
                    "downsample": "1m-avg",
                    "tags": {"rack": "*"},
                    **COUNTER_RATE,
                },
            ],
        },
    }


def ingest_cycle(k: int) -> list[dict]:
    """ingest_mixed cycle ``k``: put the next minute of every series,
    query the newest 15 minutes, then a tagv suggest for each metric."""
    m = BACKLOG_MINUTES + k
    end = minute_end_ms(m)
    return [
        {"op": "put", "minute": m},
        {
            "op": "query",
            "body": {
                "start": end - INGEST_QUERY_MS + 1,
                "end": end,
                "msResolution": True,
                "queries": [
                    {
                        "metric": "app.req.count",
                        "aggregator": "sum",
                        "downsample": "1m-avg",
                        "tags": {"rack": "*"},
                        **COUNTER_RATE,
                    }
                ],
            },
        },
    ] + [_suggest("tagv", i) for i in range(len(METRICS))]  # one kind: one cost class; six for a steady median
