"""Tests for the benchmark's generator and oracle on a tiny fixture.

    python -m pytest perfbench -q

The fixture holds an overwritten key, a deleted range, a bucket whose
documents are all filtered out, a rate pair straddling a bucket boundary
and a malformed body. The oracle is checked against hand-computed values,
then the engine against the oracle.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

import gen  # noqa: E402
from oracle import Mirror, check_result, check_rollup  # noqa: E402
from seriesly_spark.plans.query import SerieslyQuery  # noqa: E402

S = 1_000_000_000
T0 = gen.BASE_NS
B0 = T0 // 1_000_000  # bucket 0's key in ms


def _doc(**kw) -> str:
    return json.dumps(kw)


COMMIT1 = [
    (T0 + 10 * S, _doc(site="s0", v=1, c=100, s="x")),
    (T0 + 50 * S, _doc(site="s0", v="5", c=200, s="y")),  # numeric string
    (T0 + 70 * S, _doc(site="s0", v=3, c=400)),  # no /s
    (T0 + 130 * S, _doc(site="s1", v=7, c=1000, s="z")),  # filtered out
    (T0 + 190 * S, '{"site": "s0", "v": 9'),  # malformed
    (T0 + 250 * S, _doc(site="s0", v=11, c=1600, s="w")),  # deleted below
]
COMMIT2 = [(T0 + 10 * S, _doc(site="s0", v=2, c=150, s="x2"))]  # overwrite
DELETE = (T0 + 240 * S, T0 + 299 * S)

QUERY = SerieslyQuery(
    60_000,
    [("/v", "sum"), ("/v", "count"), ("/v", "avg"), ("/s", "distinct"),
     ("/c", "c"), ("/c", "c_avg")],
    T0, T0 + 300 * S - 1, [("/site", "s0")],
    aliases=["sum_0", "count_1", "avg_2", "distinct_3", "c_4", "c_avg_5"],
)

# Buckets 0-3 survive the delete. Rate samples pass at 10 s (150), 50 s
# (200) and 70 s (400): pairs 1.25/s and 10/s, the second straddling into
# bucket 1 but attributed to bucket 0.
EXPECTED = {
    str(B0): [7.0, 2, 3.5, ["x2", "y"], 11.25, 5.625],
    str(B0 + 60_000): [3.0, 1, 3.0, [None], 0.0, None],
    str(B0 + 120_000): [0.0, 0, None, [], 0.0, None],  # all filtered out
    str(B0 + 180_000): [0.0, 0, None, [], 0.0, None],  # malformed body only
}


@pytest.fixture()
def mirror():
    m = Mirror()
    m.upsert(COMMIT1)
    m.upsert(COMMIT2)
    m.delete_range(*DELETE)
    yield m
    m.close()


def test_oracle_matches_hand_computed_values(mirror):
    got = {b: vals for b, (vals, _) in mirror.query(QUERY).items()}
    assert got == EXPECTED


def test_oracle_mirror_counts_and_rollup(mirror):
    assert mirror.count() == 5
    assert mirror.count(T0, T0 + 60 * S - 1) == 2
    assert mirror.rollup(60_000, "/v") == {
        B0: (2, 7.0), B0 + 60_000: (1, 3.0), B0 + 120_000: (1, 7.0), B0 + 180_000: (1, None),
    }


def test_later_row_of_one_commit_wins():
    m = Mirror()
    m.upsert([(T0, _doc(v=1)), (T0, _doc(v=2))])
    q = SerieslyQuery(60_000, [("/v", "sum")], T0, T0, aliases=["sum_0"])
    assert m.query(q)[str(B0)][0] == [2.0]
    m.close()


def test_check_result_flags_differences(mirror):
    expected = mirror.query(QUERY)
    good = json.dumps(EXPECTED)
    assert check_result(QUERY, good, expected) is None
    near = json.loads(good)
    near[str(B0)][0] = 7.0 * (1 + 1e-12)
    assert check_result(QUERY, json.dumps(near), expected) is None
    off = json.loads(good)
    off[str(B0)][4] = 11.5
    assert "c(/c)" in check_result(QUERY, json.dumps(off), expected)
    missing = json.loads(good)
    del missing[str(B0 + 120_000)]
    assert "bucket sets differ" in check_result(QUERY, json.dumps(missing), expected)
    lst = json.loads(good)
    lst[str(B0)][3] = ["y", "x2"]
    assert check_result(QUERY, json.dumps(lst), expected) is not None


def test_check_rollup():
    exp = {B0: (2, 7.0)}
    assert check_rollup([{"bucket_ms": B0, "cnt": 2, "sum_v": 7.0}], exp) is None
    assert check_rollup([{"bucket_ms": B0, "cnt": 3, "sum_v": 7.0}], exp) is not None


def _inputs(seed: int):
    r = lambda s: random.Random(f"{seed}:{s}")  # noqa: E731
    docs = gen.initial_docs(r("d"), 600, 2)
    now = gen.BASE_NS + 2 * gen.DAY_NS - 1
    z = r("z")
    draws = [vars(gen.panel_query(p, now))
             for _ in range(3) for p in gen.panel_loads(z, gen.dashboard_panels())]
    scans = gen.scan_queries(r("q"), gen.BASE_NS, 2)
    stream = gen.IngestStream(r("s"), gen.DocGen(r("g")), [k for k, _ in docs],
                              now + 1, gen.BASE_NS)
    batches = [stream.batch(200) for _ in range(3)]
    return docs, draws, [vars(q) for q in scans], batches


def test_same_seed_same_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_generated_docs_shape():
    docs = gen.initial_docs(random.Random(1), 5000, 2)
    keys = [k for k, _ in docs]
    assert len(set(keys)) == len(keys) and keys == sorted(keys)
    assert gen.BASE_NS <= keys[0] and keys[-1] < gen.BASE_NS + 2 * gen.DAY_NS
    bodies = [b for _, b in docs]
    parsed = []
    for b in bodies:
        try:
            parsed.append(json.loads(b))
        except json.JSONDecodeError:
            pass
    assert 0 < len(bodies) - len(parsed) < 50  # a few malformed bodies
    assert any(isinstance(d.get("mem"), str) for d in parsed)  # numeric strings
    assert any("mem" not in d for d in parsed)  # missing fields
    assert 150 < sum(map(len, bodies)) / len(bodies) < 260  # ~200 B docs
    for h in {d["host"] for d in parsed}:
        counter = [d["bytes_in"] for d in parsed if d["host"] == h]
        assert counter == sorted(counter)  # per-host monotone


def test_dashboard_panels_are_fixed_and_draws_repeat():
    panels = gen.dashboard_panels()
    assert panels == gen.dashboard_panels() and len(panels) == 40
    assert [p[0] for p in panels[:6]] == [1, 6, 24, 1, 6, 24]
    assert len({repr(p) for p in panels}) == 40
    r1, r2 = random.Random(3), random.Random(3)
    loads = [gen.panel_loads(r1, panels) for _ in range(200)]
    assert loads == [gen.panel_loads(r2, panels) for _ in range(200)]
    assert all(sorted(p[0] for p in epoch) == sorted(gen.EPOCH_WINDOWS) for epoch in loads)
    assert all(len(epoch) - len({repr(p) for p in epoch}) == gen.EPOCH_REPEATS
               for epoch in loads)
    assert len({tuple(p[0] for p in epoch) for epoch in loads}) > 1  # the order varies
    draws = [p for epoch in loads for p in epoch]
    assert draws.count(panels[0]) > draws.count(panels[30]) > 0  # rank 1 is the most popular


def test_pctl_is_nearest_rank():
    from workloads import _pctl

    xs = [float(i) for i in range(1, 11)]
    assert _pctl(xs, 0.9) == 9.0  # not the maximum
    assert _pctl([float(i) for i in range(1, 51)], 0.9) == 45.0
    assert _pctl(list(reversed(xs)), 0.5) == 5.0
    assert _pctl([3.0], 0.9) == 3.0


def test_ingest_batch_mix():
    r = random.Random(5)
    docs = gen.initial_docs(r, 3000, 3)
    start = gen.BASE_NS + 3 * gen.DAY_NS
    stream = gen.IngestStream(r, gen.DocGen(r), [k for k, _ in docs], start, gen.BASE_NS)
    existing = {k for k, _ in docs}
    batch = stream.batch(1000)
    keys = [k for k, _ in batch]
    assert len(set(keys)) == 1000
    assert sum(k in existing for k in keys) == 50  # overwrites
    late = [k for k in keys if k < start and k not in existing]
    assert len(late) == 20 and all(k >= gen.BASE_NS for k in late)
    assert stream.retire() == (gen.BASE_NS, gen.BASE_NS + stream.SPAN_NS - 1)
    assert min(k for k, _ in stream.batch(1000) if k < start) >= gen.BASE_NS + stream.SPAN_NS


def test_engine_agrees_with_oracle_on_fixture(tmp_path, mirror):
    from seriesly_spark.db import SerieslyDB
    from seriesly_spark.plans.emit import to_seriesly_json
    from seriesly_spark.plans.rollup import ContinuousRollup
    from seriesly_spark.session import get_spark

    spark = get_spark("perfbench-test", cpus=2)
    dbs = SerieslyDB(spark, str(tmp_path / "db"))
    dbs.create("m")
    dbs.write_batch("m", COMMIT1)
    dbs.write_batch("m", COMMIT2)
    dbs.delete_range("m", *DELETE)
    rendered = to_seriesly_json(dbs.query("m", QUERY), QUERY.aliases)
    assert check_result(QUERY, rendered, mirror.query(QUERY)) is None
    unfiltered = SerieslyQuery(60_000, [("/v", "count"), ("/c", "c")], T0, T0 + 300 * S - 1,
                               aliases=["count_0", "c_1"])
    rendered = to_seriesly_json(dbs.query("m", unfiltered), unfiltered.aliases)
    assert check_result(unfiltered, rendered, mirror.query(unfiltered)) is None
    ru = ContinuousRollup(dbs, "m", str(tmp_path / "ru"), 60_000, "/v")
    ru.refresh()
    assert check_rollup(ru.read().collect(), mirror.rollup(60_000, "/v")) is None


def test_tracer_parents_self_time_and_jobs():
    from tracing import Tracer

    tr = Tracer(True)
    tr.next_op()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            inner.jobs = {7: 4}
        outer.jobs = {8: 2}
    with tr.span("sibling"):
        pass
    assert [s.parent for s in tr.spans] == [None, 0, None]
    assert {s.op for s in tr.spans} == {1}
    assert tr.total_jobs(outer) == (2, 6) and tr.total_jobs(inner) == (1, 4)
    assert abs(tr.self_ms(0) - (outer.ms - inner.ms)) < 1e-9

    off = Tracer(False)
    with off.span("x") as sp:
        sp.attrs["k"] = 1
    assert off.spans == []
