"""Tests of the benchmark's own arithmetic and generators (no Spark).

    python -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracles  # noqa: E402
import streams  # noqa: E402
from spans import Span, percentile, samples_needed, self_times, supported, tail  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert samples_needed(95) == 200
    assert samples_needed(90) == 100
    assert samples_needed(50) == 20
    assert supported(200, 95) and not supported(199, 95)
    assert supported(20, 50) and not supported(19, 50)
    xs = [float(i) for i in range(200)]
    assert tail(xs, 95) == pytest.approx(percentile(xs, 95))
    with pytest.raises(ValueError):
        tail(xs[:199], 95)


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([5.0], 95) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def _span(name, start, end, sid, parent):
    return Span(name, start, end, sid, parent, "t")


def test_self_time_subtracts_children_once():
    spans = [
        _span("root", 0.0, 10.0, 1, None),
        _span("a", 1.0, 4.0, 2, 1),
        _span("b", 3.0, 6.0, 3, 1),      # overlaps a: 1..6 covered once
        _span("a.child", 1.5, 2.0, 4, 2),
        _span("c", 9.0, 12.0, 5, 1),     # sticks out of root: only 9..10 counts
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    # self times of a tree add up to the root's duration when children
    # do not overlap
    tree = [_span("r", 0, 8, 1, None), _span("x", 0, 3, 2, 1), _span("y", 3, 7, 3, 1),
            _span("y1", 4, 5, 4, 3)]
    assert sum(self_times(tree).values()) == pytest.approx(8.0)


def test_backlog_counts_sent_but_not_visible():
    due = [(0.0, 10), (1.0, 10), (2.0, 10), (3.0, 10)]
    vis = [(2.5, 10), (2.5, 10), (5.0, 10)]
    assert streams.backlog(due, vis, 0.5) == 10
    assert streams.backlog(due, vis, 2.0) == 30
    assert streams.backlog(due, vis, 2.5) == 10
    assert streams.backlog(due, vis, 4.0) == 20
    assert streams.backlog(due, vis, 6.0) == 10  # last chunk never seen


def test_staleness_integrates_the_sawtooth():
    # chunk sent at 0 visible at 2; sent at 1 visible at 4; sent at 3 never
    due_vis = [(0.0, 2.0), (1.0, 4.0), (3.0, 99.0)]
    # over [2, 4] the age runs 2 -> 4 (mean 3); over [4, 6] it runs 3 -> 5 (mean 4)
    assert streams.staleness(due_vis, 2.0, 4.0) == pytest.approx(3.0)
    assert streams.staleness(due_vis, 2.0, 6.0) == pytest.approx(3.5)
    # an older chunk seen later does not make the view fresher
    assert streams.staleness(due_vis + [(-1.0, 3.0)], 2.0, 4.0) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        streams.staleness(due_vis, 1.0, 4.0)


def test_capacity_is_rows_over_busy_time_of_batches_that_read():
    prog = [{"numInputRows": 600, "durationMs": {"triggerExecution": 3000}},
            {"numInputRows": 0, "durationMs": {"triggerExecution": 500}},  # idle batch
            {"numInputRows": 200, "durationMs": {"triggerExecution": 1000}}]
    assert streams.capacity(prog) == pytest.approx(800 / 4.0)
    assert streams.capacity(prog[1:2]) == 0.0


def test_open_loop_generator_keeps_schedule(tmp_path):
    from dashboard_live import CHUNK_S, Generator

    lines = [f'{{"i": {i}}}' for i in range(25)]
    t0 = time.time() + 0.05
    g = Generator(lines, str(tmp_path), per_chunk=10, t0=t0, stop_at=t0 + 3 * CHUNK_S)
    g.start()
    g.join(timeout=10)
    assert not g.is_alive() and g.error is None
    assert [c[1] - t0 for c in g.chunks] == pytest.approx([0, CHUNK_S, 2 * CHUNK_S, 3 * CHUNK_S])
    lags = [w - d for _, d, w, _ in g.chunks]
    assert all(0 <= lag < CHUNK_S for lag in lags)
    names = sorted(p for p in os.listdir(tmp_path) if not p.startswith("."))
    assert names == [c[0] for c in g.chunks]
    # the replay wraps around: 4 chunks of 10 lines from 25 lines
    assert [c[3] for c in g.chunks] == [10, 10, 5, 10]


def test_open_loop_generator_starts_at_its_first_chunk(tmp_path):
    from dashboard_live import Generator

    lines = [f"{i}" for i in range(30)]
    t0 = time.time()
    g = Generator(lines, str(tmp_path), per_chunk=10, t0=t0, stop_at=t0, first=1)
    g.start()
    g.join(timeout=10)
    assert open(tmp_path / g.chunks[0][0]).read().split() == lines[10:20]


def test_visible_at_takes_the_slowest_query(tmp_path):
    progress = {}
    for k, q in enumerate(streams.QUERIES):
        log = tmp_path / streams.CKPT_DIRS[q] / "sources" / "0"
        log.mkdir(parents=True)
        (log / "0").write_text('v1\n{"path":"file:/x/chunk-000000.jsonl","timestamp":1,"batchId":0}\n')
        (log / "1").write_text('v1\n{"path":"file:/x/chunk-000001.jsonl","timestamp":1,"batchId":1}\n')
        progress[q] = [
            {"batchId": 0, "timestamp": "2026-01-01T00:00:00.000Z", "durationMs": {"triggerExecution": 1000 + k}},
        ]
    vis = streams.visible_at(str(tmp_path), progress)
    # chunk 1's batch has no progress event yet: not visible
    assert set(vis) == {"chunk-000000.jsonl"}
    assert vis["chunk-000000.jsonl"] == pytest.approx(streams.epoch("2026-01-01T00:00:00Z") + 1.003)


def _read_all(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_generators_are_deterministic(tmp_path):
    a = gen.land_nem_week(str(tmp_path / "a"), 5, 0.02, intervals=12)
    b = gen.land_nem_week(str(tmp_path / "b"), 5, 0.02, intervals=12)
    c = gen.land_nem_week(str(tmp_path / "c"), 6, 0.02, intervals=12)
    assert _read_all(tmp_path / "a") == _read_all(tmp_path / "b")
    assert _read_all(tmp_path / "a") != _read_all(tmp_path / "c")
    assert set(a) == set(b) == set(c)
    ids = gen.operating_ids(gen.facilities(5, 0.05))
    assert gen.replay_for(5, ids, 30) == gen.replay_for(5, ids, 30)
    gen.catalog_tables(str(tmp_path / "t1"), 5, 0.001)
    gen.catalog_tables(str(tmp_path / "t2"), 5, 0.001)
    assert _read_all(tmp_path / "t1") == _read_all(tmp_path / "t2")


def test_fault_mix_has_every_kind():
    ids = gen.operating_ids(gen.facilities(3, 0.05))
    clean = gen.replay_for(3, ids, 0)  # sentinel only
    assert len(clean) == 1
    lines = [json.dumps({"facility_id": ids[i % len(ids)], "timestamp": gen.utc_str(i // len(ids)),
                         "power_mw": 1.0, "co2_tonnes": 0.1}) for i in range(5000)]
    out, counts = gen.inject_faults(lines, 3, ids)
    assert set(counts) == set(gen.FAULT_SHARE) and all(v >= 1 for v in counts.values())
    assert len(out) == len(lines) + sum(counts.values())
    malformed = 0
    for x in out:
        try:
            json.loads(x)
        except ValueError:
            malformed += 1
    assert malformed == counts["malformed"]


def test_replay_order_check():
    s = '{"timestamp": "starting...", "price_dmwh": 0, "demand_mw": 0}'
    f = lambda i, t: json.dumps({"facility_id": i, "timestamp": t})  # noqa: E731
    m = lambda i, t: json.dumps({"region_id": i, "timestamp": t})  # noqa: E731
    ok = [s, f("A", "t1"), f("B", "t1"), m("NSW1", "t1"), f("A", "t2")]
    assert oracles.replay_in_order(ok)
    assert not oracles.replay_in_order([s, m("NSW1", "t1"), f("A", "t1")])
    assert not oracles.replay_in_order(ok[1:])
