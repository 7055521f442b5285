"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import inputs  # noqa: E402
import oracles  # noqa: E402
from spans import Job, Span, Tracer, driver_gap, read_event_logs, self_times, tail, union_length  # noqa: E402


# --- statistics ------------------------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert tail(range(10)) is None
    assert tail(range(11)) == (0, 100.0 / 11, 11)
    value, pct, n = tail(range(20))
    assert (value, pct, n) == (9, 50.0, 20)
    value, pct, n = tail(list(range(100))[::-1])
    assert (value, pct, n) == (89, 90.0, 100)
    assert sum(1 for x in range(100) if x > value) == 10


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5.0
    assert union_length([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == 3.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def _span(i, parent, start, end, layer, jobs=()):
    return Span(i, parent, "r", f"s{i}", layer, start, end, list(jobs))


def test_self_time_subtracts_children_and_jobs():
    jobs = {"j1": Job(5, 7, "r", 0, []), "j2": Job(2.5, 3.5, "r", 0, [])}
    spans = [
        _span(1, None, 0, 10, "pip"),
        _span(2, 1, 1, 4, "io", jobs=["j2"]),  # overlaps its sibling
        _span(3, 1, 3, 6, "knn", jobs=["j1"]),  # job runs past its end
        _span(4, 2, 2, 3, "h3core"),
    ]
    st = self_times(spans, jobs)
    assert st["pip"] == pytest.approx(10 - 5)  # children cover [1, 6]
    assert st["io"] == pytest.approx(3 - 1.5)  # child [2, 3] + job [2.5, 3.5]
    assert st["knn"] == pytest.approx(3 - 1)  # job clipped to [5, 6]
    assert st["h3core"] == pytest.approx(1)
    assert st["spark"] == pytest.approx(1 + 1)


def test_driver_gap_uses_union_of_overlapping_jobs():
    jobs = {
        "a": Job(1, 3, "r", 0, []),
        "b": Job(2, 5, "r", 0, []),
        "c": Job(8, 12, "r", 0, []),
    }
    root = _span(1, None, 0, 10, "bench", jobs=["a"])
    child = _span(2, 1, 1.5, 9, "pip", jobs=["b", "c"])
    # jobs cover [1, 5] and [8, 10] of the root's [0, 10]
    assert driver_gap(root, [root, child], jobs) == pytest.approx(4)
    assert driver_gap(child, [root, child], jobs) == pytest.approx(7.5 - 4)  # [2, 5] + [8, 9]


def test_jobs_attach_to_innermost_span_of_their_group():
    tr = Tracer(True)
    with tr.request(_FakeSpark(), "pip-1") as root:
        with tr.span("pip_join.exec", "pip") as inner:
            pass
    inner.start, inner.end = root.start + 1, root.start + 2
    root.end = root.start + 3
    jobs = {
        "0:0": Job(root.start + 1.5, root.start + 1.6, "pip-1", 0, []),
        "0:1": Job(root.start + 2.5, root.start + 2.6, "pip-1", 0, []),
        "0:2": Job(root.start + 1.5, root.start + 1.6, "other", 0, []),
    }
    tr.attach(jobs)
    assert inner.jobs == ["0:0"] and root.jobs == ["0:1"]


def test_event_log_parsing(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1300, "Accumulables": [
             {"Name": "data sent to Python workers", "Update": 40},
             {"Name": "data returned from Python workers", "Update": "2"},
             {"Name": "number of output rows", "Update": 9}]},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 150_000_000,
                          "JVM GC Time": 5, "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Input Metrics": {"Records Read": 10}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, tasks = read_event_logs(tmp_path)
    assert jobs == {"0:0": Job(1.0, 1.5, "g", 3, ["0:0"])}
    (t,) = tasks
    assert (t.stage, t.python_bytes, t.shuffle_write_bytes, t.input_records) == ("0:0", 42, 64, 10)
    assert t.cpu_ns == 150_000_000 and t.finish - t.launch == pytest.approx(0.2)


# --- request sequencing ----------------------------------------------------


class _FakeSpark:
    class sparkContext:  # noqa: N801
        @staticmethod
        def setJobGroup(*a):
            pass

        @staticmethod
        def setLocalProperty(*a):
            pass


class _FakeEnv:
    def __init__(self):
        self.tracer = Tracer(False)
        self.spark = _FakeSpark()

    def start(self, event_log=False):
        return 0.0


class _NoMem:
    @staticmethod
    def take():
        return {"python": 1.0, "jvm": 2.0}


class _Clock:
    """perf_counter stand-in: every reading advances 0.05 s, so a request
    (two readings) lasts 0.05 s."""

    def __init__(self):
        self.now = 0.0

    def perf_counter(self):
        self.now += 0.05
        return self.now


def _pip_workload(monkeypatch, pip_call):
    import workloads

    monkeypatch.setattr(workloads, "time", _Clock())
    monkeypatch.setattr(workloads, "pip_call", pip_call)
    monkeypatch.setattr(workloads.PipJoin, "load", lambda self: None)
    wl = workloads.PipJoin(_FakeEnv(), 3, lambda line: None)
    wl.pool, wl.images = inputs.polygon_pool(3), None

    class Points:  # the oracle reads what the fake engine call returned
        @staticmethod
        def check_pip(polys, got):
            return list(got.get("errors", []))

    wl.points = Points()
    return wl


@pytest.mark.parametrize("seconds", [0.2, 0.9, 1.7, 3.3, 6.5])
@pytest.mark.parametrize("trace", [False, True])
def test_no_measured_pip_request_hits_the_engines_memos(monkeypatch, seconds, trace):
    import run

    memo = []  # the engine's build/refine memos: 16-entry FIFO on set geometry

    def pip_call(env, images, polys):
        key = repr(sorted(polys.items()))
        if key in memo:
            return {"errors": ["memo hit"]}
        memo.append(key)
        del memo[:-16]
        return {}

    wl = _pip_workload(monkeypatch, pip_call)
    _setup_s, plain, traced = run.phases(wl, _NoMem(), seconds, trace)
    measured = plain + traced
    assert bool(traced) == trace and len(plain) % inputs.REGIONAL_EVERY == 0
    assert [o.errors for o in measured] == [[]] * len(measured)
    # every cycle of measured requests holds one regional set
    regional = ["regional" in o.detail["polys"] for o in measured]
    assert sum(regional) == len(measured) // inputs.REGIONAL_EVERY


def test_a_raising_request_counts_as_failed_and_the_run_goes_on(monkeypatch):
    import run
    import workloads

    calls = []

    def pip_call(env, images, polys):
        calls.append(1)
        if len(calls) == 1 + workloads.PipJoin.warm_requests + 3:  # the third measured request
            raise ValueError("engine failure")
        return {}

    wl = _pip_workload(monkeypatch, pip_call)
    setup_s, plain, _ = run.phases(wl, _NoMem(), 0.2, False)
    assert run.tally(plain) == {"attempted": 8, "failed": 1, "failed_share": 1 / 8}
    assert plain[2].raised and plain[2].errors
    metrics = run.end_to_end(wl, plain, setup_s)
    assert metrics["job_p50_s"] == pytest.approx(0.05)
    assert metrics["rows_per_s"] == pytest.approx(workloads.TABLE_ROWS / 0.05)


# --- inputs ----------------------------------------------------------------


def test_inputs_are_a_function_of_the_seed():
    a, b, c = inputs.geography(5, 1000), inputs.geography(5, 1000), inputs.geography(6, 1000)
    assert np.array_equal(a[0], b[0]) and not np.array_equal(a[0], c[0])
    assert inputs.polygon_pool(5) == inputs.polygon_pool(5)
    assert all(x.equals(y) for x, y in zip(inputs.knn_batches(5), inputs.knn_batches(5)))
    pool = inputs.polygon_pool(5)
    assert len(pool) > 16  # more sets than the engine's build memo holds
    assert sum("regional" in p for p in pool) == len(pool) // inputs.REGIONAL_EVERY


def test_captions_round_trip_to_the_generated_coordinates():
    df = inputs.images_frame(3, 50, 4)
    lat, lng = inputs.geography(3, 50)
    parsed = df["caption"].str.rsplit(" at ", n=1).str[1].str.split(",", expand=True).astype(float)
    assert np.array_equal(parsed[0].to_numpy(), lat) and np.array_equal(parsed[1].to_numpy(), lng)
    assert set(df["fmt"]) == {"rgb24"} and all(len(b) == 48 for b in df["bytes"])


# --- oracles reject perturbed outputs --------------------------------------


SQUARE = ([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)], [], 9)
HOLED = ([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)],
         [[(0.4, 0.4), (0.6, 0.4), (0.6, 0.6), (0.4, 0.6)]], 9)


def test_pip_oracle_counts_and_rejects_perturbation():
    rng = np.random.default_rng(0)
    lng, lat = rng.uniform(-0.5, 1.5, 5000), rng.uniform(-0.5, 1.5, 5000)
    want = oracles.pip_expected(lat, lng, {"sq": SQUARE, "holed": HOLED})
    inside = (lng > 0) & (lng < 1) & (lat > 0) & (lat < 1)
    hole = (lng > 0.4) & (lng < 0.6) & (lat > 0.4) & (lat < 0.6)
    assert want == {"sq": int(inside.sum()), "holed": int((inside & ~hole).sum())}
    assert oracles.check_pip(dict(want), want) == []
    assert oracles.check_pip({**want, "sq": want["sq"] + 1}, want)
    assert oracles.check_pip({"sq": want["sq"]}, want)


def _knn_case():
    rng = np.random.default_rng(1)
    lat, lng = rng.uniform(10, 11, 3000), rng.uniform(20, 21, 3000)
    ids = inputs.image_ids(np.arange(3000))
    q = pd.DataFrame({"query_id": ["a", "b"], "lat": [10.5, 10.2], "lng": [20.5, 20.9]})
    qi = q.set_index("query_id")

    def true_dist(qid, image_ids):
        idx = np.array([int(i[3:]) for i in image_ids])
        return oracles.haversine_m(qi.at[qid, "lat"], qi.at[qid, "lng"], lat[idx], lng[idx])

    return oracles.knn_expected(lat, lng, ids, q, 5), true_dist


def test_knn_oracle_accepts_itself_and_rejects_perturbation():
    want, true_dist = _knn_case()
    assert oracles.check_knn(want.copy(), want, true_dist) == []
    bad_dist = want.copy()
    bad_dist.loc[3, "dist_m"] *= 1.01
    assert oracles.check_knn(bad_dist, want, true_dist)
    bad_id = want.copy()
    bad_id.loc[0, "image_id"] = "img0000002999"
    assert oracles.check_knn(bad_id, want, true_dist)
    swapped = want.copy()
    swapped.loc[[0, 1], "image_id"] = swapped.loc[[1, 0], "image_id"].to_numpy()
    assert oracles.check_knn(swapped, want, true_dist)
    assert oracles.check_knn(want.iloc[:-1], want, true_dist)


def test_knn_oracle_breaks_distance_ties_by_image_id():
    lat = np.array([1.0, 1.0, 1.0, 2.0])
    lng = np.array([1.0, 1.0, 1.0, 2.0])
    ids = np.array(["img2", "img0", "img1", "img3"])
    q = pd.DataFrame({"query_id": ["q"], "lat": [1.1], "lng": [1.1]})
    got = oracles.knn_expected(lat, lng, ids, q, 2)
    assert list(got["image_id"]) == ["img0", "img1"]


def test_tile_oracle_rejects_perturbation():
    side, n = 16, 40
    px = inputs.pixels(9, n, side)
    lat, lng = inputs.geography(9, n)
    want = oracles.tile_rollup_expected(px, lat, lng, side, 4, 15, 9)
    assert int(want["n_tiles"].sum()) == n * 16
    assert oracles.check_tile_rollup(want.copy(), want, n, 16) == []
    fewer = want.copy()
    fewer.loc[0, "n_tiles"] -= 1
    assert oracles.check_tile_rollup(fewer, want, n, 16)
    off = want.copy()
    off.loc[0, "mean_g"] += 0.5
    assert oracles.check_tile_rollup(off, want, n, 16)
    assert oracles.check_tile_rollup(want.iloc[1:], want, n, 16)


def test_cell_and_stage_history_checks_reject_perturbation():
    from h3_rs_spark.h3core import faceijk

    lat, lng = inputs.geography(4, 100)
    idx = np.arange(0, 100, 7)
    sample = pd.DataFrame(
        {"index": idx, "lat": lat[idx], "lng": lng[idx],
         "cell": faceijk.geo_to_h3(lat[idx], lng[idx], 9)}
    )
    assert oracles.check_cells(sample, lat, lng, 9) == []
    bad = sample.copy()
    bad.loc[2, "cell"] += 1
    assert oracles.check_cells(bad, lat, lng, 9)
    assert oracles.check_history([("tile_rollup", "ran"), ("tile_rollup", "resumed")]) == []
    assert oracles.check_history([("tile_rollup", "ran"), ("tile_rollup", "ran")])
