"""Seeded input generation: metric documents, panel/scan queries, ingest
batches. Everything here is a pure function of the seed (one
``random.Random`` per stream), so the same seed gives the same inputs and
the engine receives only these generated values.
"""

from __future__ import annotations

import json
import random

from seriesly_spark.plans.query import SerieslyQuery

MS_NS = 1_000_000
MIN_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
HOUR_NS = HOUR_MS * MS_NS
DAY_NS = DAY_MS * MS_NS
# 2026-03-01T00:00:00Z: a fixed epoch keeps runs reproducible (no wall clock).
BASE_NS = 1_772_323_200 * 1_000_000_000

N_HOSTS = 16
SITES = ("s0", "s1", "s2", "s3")
APPS = ("checkout", "search", "catalog", "payments")
TAGS = ("web", "db", "cache", "eu", "us", "canary", "batch")
STATUSES = ("ok", "warn", "crit")
STATUS_WEIGHTS = (0.80, 0.15, 0.05)

# Shares of documents that exercise the reference's coercion rules.
P_NUMERIC_STRING = 0.03  # a number sent as a numeric string
P_MISSING = 0.02  # a field left out
P_MALFORMED = 0.002  # a truncated (unparseable) body


class DocGen:
    """Metric documents (~200 B of JSON) from a fleet of ``N_HOSTS`` hosts.

    Hosts report round-robin; ``bytes_in`` is a per-host counter that only
    grows with the generation order, so rate reducers filtered to one host
    see a monotone counter."""

    def __init__(self, rnd: random.Random):
        self.rnd = rnd
        self.k = 0
        self.counters = [rnd.randrange(10**9, 10**10) for _ in range(N_HOSTS)]

    def doc(self) -> str:
        r = self.rnd
        h = self.k % N_HOSTS
        self.k += 1
        self.counters[h] += r.randrange(1_000, 100_000)
        d: dict = {
            "host": f"h{h:02d}",
            "site": SITES[h % len(SITES)],
            "app": APPS[h % len(APPS)],
            "ver": f"1.{h % 3}.{r.randrange(10)}",
            "status": r.choices(STATUSES, STATUS_WEIGHTS)[0],
            "cpu": {"user": round(r.uniform(0, 100), 3), "sys": round(r.uniform(0, 25), 3)},
            "mem": r.randrange(1 << 20, 1 << 24),
            "bytes_in": self.counters[h],
            "tags": r.sample(TAGS, r.randint(1, 3)),
        }
        if r.random() < P_NUMERIC_STRING:
            d["mem"] = str(d["mem"])
        if r.random() < P_NUMERIC_STRING:
            d["cpu"]["user"] = f"{d['cpu']['user']:.3f}"
        if r.random() < P_MISSING:
            del d[r.choice(("mem", "cpu", "status"))]
        body = json.dumps(d)
        if r.random() < P_MALFORMED:
            body = body[: len(body) // 2]
        return body


def initial_docs(rnd: random.Random, n_docs: int, n_days: int) -> list[tuple[int, str]]:
    """``n_docs`` documents spread evenly (with jitter) over ``n_days`` day
    partitions starting at ``BASE_NS``; keys are distinct ms-aligned ns."""
    gen = DocGen(rnd)
    step_ms = n_days * DAY_MS // n_docs
    if step_ms < 2:
        raise ValueError("too many docs for the day range")
    return [
        ((i * step_ms + rnd.randrange(step_ms // 2)) * MS_NS + BASE_NS, gen.doc())
        for i in range(n_docs)
    ]


def _aliased(q: SerieslyQuery) -> SerieslyQuery:
    q.aliases = [f"{red}_{i}" for i, (_, red) in enumerate(q.fields)]
    return q


# -- dashboard --------------------------------------------------------------

_NUMERIC_PTRS = ("/cpu/user", "/cpu/sys", "/mem")
_NUMERIC_REDS = ("avg", "max", "min", "sum", "count")
WINDOW_HOURS = (1, 6, 24)


def dashboard_panels(n: int = 40) -> list[tuple]:
    """The fixed set of ``n`` distinct panels ``(hours, group_ms, fields,
    filters)``, the same for every seed, in popularity-rank order. Windows
    cycle through the last 1 h / 6 h / 24 h; 1- or 5-min buckets (24 h
    panels use 5-min), 1-3 numeric pointers, ~40% filtered to one site."""
    rnd = random.Random("dashboard-panels")
    panels: list[tuple] = []
    while len(panels) < n:
        hours = WINDOW_HOURS[len(panels) % len(WINDOW_HOURS)]
        group = 5 * MIN_MS if hours == 24 else rnd.choice((MIN_MS, 5 * MIN_MS))
        ptrs = rnd.sample(_NUMERIC_PTRS, rnd.randint(1, 3))
        fields = [(p, rnd.choice(_NUMERIC_REDS)) for p in ptrs]
        filters = [("/site", rnd.choice(SITES))] if rnd.random() < 0.4 else []
        panel = (hours, group, fields, filters)
        if panel not in panels:
            panels.append(panel)
    return panels


def panel_query(panel: tuple, now_ns: int) -> SerieslyQuery:
    """The panel's query over the window that ends at ``now_ns``."""
    hours, group, fields, filters = panel
    lo = now_ns - hours * HOUR_NS + 1
    return _aliased(SerieslyQuery(group, list(fields), lo, now_ns, list(filters)))


ZIPF_S = 1.1
# The windows of the panel loads between two flushes; the seed shuffles them.
EPOCH_WINDOWS = (1, 1, 1, 1, 6, 6, 6, 24, 24, 24)
# Repeats among the panel loads between two flushes, i.e. cache hits.
EPOCH_REPEATS = 2


def zipf_pick(rnd: random.Random, items: list):
    """One Zipf-weighted draw: the item at rank r has weight 1/(r+1)^ZIPF_S."""
    return rnd.choices(items, [1.0 / (r + 1) ** ZIPF_S for r in range(len(items))])[0]


def panel_loads(rnd: random.Random, panels: list[tuple]) -> list[tuple]:
    """The panel loads between two flushes: one per entry of
    ``EPOCH_WINDOWS``, in an order the seed shuffles, each a Zipf draw
    among the panels of that window (in rank order). A repeat since the
    last flush is a cache hit, so the seed fixes the hit/miss sequence.
    The window mix and the number of repeats (``EPOCH_REPEATS``) are the
    same for every seed: draws are redone until the loads hold exactly
    that many repeats."""
    while True:
        windows = list(EPOCH_WINDOWS)
        rnd.shuffle(windows)
        loads = [zipf_pick(rnd, [p for p in panels if p[0] == h]) for h in windows]
        if len(loads) - len({repr(p) for p in loads}) == EPOCH_REPEATS:
            return loads


# -- scan -------------------------------------------------------------------


def scan_queries(
    rnd: random.Random, start_ns: int, n_days: int
) -> list[SerieslyQuery]:
    """Six wide queries (1 day up to the full range, 1 h to 1 day buckets,
    3-6 fields incl. nested pointers). Every reducer family appears:
    numeric, distinct/identity (on string pointers only), obj_keys and the
    rate family, some with filters. The shapes are fixed; the seed picks
    the days, hosts and sites."""
    end_ns = start_ns + n_days * DAY_NS - 1

    def days(k: int) -> tuple[int, int]:
        d = rnd.randrange(n_days - k + 1)
        return start_ns + d * DAY_NS, start_ns + (d + k) * DAY_NS - 1

    host = lambda: f"h{rnd.randrange(N_HOSTS):02d}"  # noqa: E731
    site = lambda: rnd.choice(SITES)  # noqa: E731
    full = (start_ns, end_ns)
    shapes = [
        (HOUR_MS, full, [("/cpu/user", "avg"), ("/cpu/sys", "max"), ("/mem", "sum")], []),
        (DAY_MS, full, [("/cpu/user", "avg"), ("/cpu/sys", "min"), ("/mem", "max"),
                        ("/cpu/user", "sumsq"), ("/bytes_in", "max"), ("/host", "count")], []),
        (HOUR_MS, days(1), [("/status", "identity"), ("/cpu/user", "max"),
                            ("/ver", "distinct")], [("/host", host())]),
        (HOUR_MS, days(1), [("/cpu", "obj_keys"), ("/cpu/sys", "avg"), ("/mem", "count")],
         [("/site", site())]),
        (HOUR_MS, days(1), [("/bytes_in", "c"), ("/bytes_in", "c_avg"), ("/mem", "avg")],
         [("/host", host())]),
        (3 * HOUR_MS, days(1), [("/bytes_in", "c"), ("/cpu/user", "min"), ("/cpu/sys", "sum"),
                                ("/app", "distinct")], []),
    ]
    return [
        _aliased(SerieslyQuery(g, fields, lo, hi, filters))
        for g, (lo, hi), fields, filters in shapes
    ]


# -- writes -----------------------------------------------------------------


class IngestStream:
    """Collector flushes with advancing timestamps.

    Each batch covers the next ``SPAN_NS`` (a tenth of a day) with fresh
    keys. About 5% of a batch overwrites keys written during the last day
    and about 2% arrives late, with fresh keys inside an earlier live day.
    Retention drops the oldest ``SPAN_NS`` of data per batch, so the live
    set keeps its size."""

    P_OVERWRITE = 0.05
    P_LATE = 0.02
    SPAN_NS = DAY_NS // 10

    def __init__(self, rnd: random.Random, gen: DocGen, keys: list[int],
                 start_ns: int, oldest_ns: int):
        self.rnd = rnd
        self.gen = gen
        self.next_ns = start_ns
        self.oldest_ns = oldest_ns
        self.recent = [k for k in keys if k >= start_ns - DAY_NS]

    def retire(self) -> tuple[int, int]:
        """The inclusive key range retention deletes next; late arrivals
        stop targeting it."""
        lo = self.oldest_ns
        self.oldest_ns += self.SPAN_NS
        return lo, self.oldest_ns - 1

    def batch(self, n: int = 1000) -> list[tuple[int, str]]:
        r = self.rnd
        n_over = round(n * self.P_OVERWRITE)
        n_late = round(n * self.P_LATE)
        n_new = n - n_over - n_late
        step_ms = self.SPAN_NS // MS_NS // n_new
        fresh = [self.next_ns + (i * step_ms + r.randrange(step_ms // 2)) * MS_NS
                 for i in range(n_new)]
        self.next_ns += self.SPAN_NS
        keys = fresh + r.sample(self.recent, min(n_over, len(self.recent)))
        self.recent = [k for k in self.recent if k >= self.next_ns - DAY_NS] + fresh
        day_start_ms = ((self.next_ns - self.SPAN_NS - BASE_NS) // DAY_NS * DAY_NS
                        + BASE_NS) // MS_NS
        taken = set(keys)
        while len(keys) < n:
            k = r.randrange(self.oldest_ns // MS_NS, day_start_ms) * MS_NS
            if k not in taken:
                taken.add(k)
                keys.append(k)
        return [(k, self.gen.doc()) for k in keys]
