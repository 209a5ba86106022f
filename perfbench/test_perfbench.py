"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracles, run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture
def small(monkeypatch):
    """Shrink every input so a full bundle builds in well under a second."""
    for k, v in {"N_IMAGES": 40, "N_RECT_ZONES": 12,
                 "N_PIP_POINTS": 3000, "N_STAR_ZONES": 10, "N_DIST_POINTS": 2000,
                 "N_KNN_QUERIES": 200, "N_KNN_OBJECTS": 300, "KNN_SAMPLE": 20,
                 "N_FILES": 2}.items():
        monkeypatch.setattr(inputs, k, v)


def _tables(d: str) -> dict:
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, d)] = pq.read_table(p)
    return out


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_same_inputs_other_seed_other_inputs(small, tmp_path, workload):
    d1, e1 = inputs.ensure(workload, 7, str(tmp_path / "a"))
    d2, e2 = inputs.ensure(workload, 7, str(tmp_path / "b"))
    d3, e3 = inputs.ensure(workload, 8, str(tmp_path / "c"))
    t1, t2, t3 = _tables(d1), _tables(d2), _tables(d3)
    assert t1.keys() == t2.keys() == t3.keys() and t1
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert e1 == e2
    assert not all(t1[k].equals(t3[k]) for k in t1)
    assert e1 != e3


def test_cache_reuses_a_finished_entry(small, tmp_path):
    d, e = inputs.ensure("vector_join", 3, str(tmp_path))
    marker = os.path.join(d, "pip_points", "part-000.parquet")
    mtime = os.path.getmtime(marker)
    assert inputs.ensure("vector_join", 3, str(tmp_path)) == (d, e)
    assert os.path.getmtime(marker) == mtime


def test_cache_keeps_only_the_newest_entries(small, tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE_KEEP", 2)
    made = [inputs.ensure("vector_join", s, str(tmp_path))[0] for s in (1, 2, 3)]
    assert not os.path.exists(made[0])
    assert all(os.path.exists(d) for d in made[1:])


# --- oracles agree with a naive recomputation ----------------------------------


def test_tile_counts_match_per_tile_loop():
    rng = np.random.default_rng(1)
    imgs = inputs.make_images(rng, 25)
    zones = inputs.make_rect_zones(rng, 15)
    want = {}
    for lon, lat, w, h in zip(imgs["lon"], imgs["lat"], imgs["w"], imgs["h"]):
        for ty in range(-(-int(h) // 16)):
            for tx in range(-(-int(w) // 16)):
                tw, th = min(16, w - tx * 16), min(16, h - ty * 16)
                x = lon + (tx * 16 + tw / 2.0) / w * 0.05
                y = lat - (ty * 16 + th / 2.0) / h * 0.05
                for z in range(15):
                    if (zones["xmin"][z] <= x <= zones["xmax"][z]
                            and zones["ymin"][z] <= y <= zones["ymax"][z]):
                        want[z] = want.get(z, 0) + 1
    got = oracles.tile_zone_counts(imgs["lon"], imgs["lat"], imgs["w"], imgs["h"],
                                   zones, 16)
    assert got == want


def test_ray_cast_matches_convex_half_planes():
    # a square as a ring: inside iff within the box
    ring = np.array([0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0])
    rng = np.random.default_rng(2)
    px, py = rng.uniform(-1, 3, 500), rng.uniform(-1, 3, 500)
    inside = oracles.point_in_ring(ring, px, py)
    assert np.array_equal(inside, (px > 0) & (px < 2) & (py > 0) & (py < 2))


def test_distance_pairs_match_brute_force(tmp_path):
    rng = np.random.default_rng(3)
    n, r = 400, 0.3
    ax, ay = rng.uniform(0, 5, n), rng.uniform(0, 5, n)
    bx, by = rng.uniform(0, 5, n), rng.uniform(0, 5, n)
    pd.DataFrame({"pid": np.arange(n), "x": ax, "y": ay}).to_parquet(
        tmp_path / "p.parquet")
    pd.DataFrame({"bid": np.arange(n), "bx": bx, "by": by}).to_parquet(
        tmp_path / "b.parquet")
    os.makedirs(tmp_path / "probe")
    os.makedirs(tmp_path / "build")
    os.replace(tmp_path / "p.parquet", tmp_path / "probe" / "p.parquet")
    os.replace(tmp_path / "b.parquet", tmp_path / "build" / "b.parquet")
    dx = ax[:, None] - bx[None, :]
    dy = ay[:, None] - by[None, :]
    pi, bi = np.nonzero(dx * dx + dy * dy <= r * r)
    want = {"count": len(pi),
            "checksum": int(((pi * oracles.PAIR_MUL + bi) % oracles.PAIR_MOD).sum())}
    assert oracles.distance_pairs(str(tmp_path / "probe"), str(tmp_path / "build"),
                                  r) == want


# --- each oracle rejects a perturbed result ---------------------------------------


def test_counts_check_rejects_perturbation():
    want = {"1": 5, "2": 7}
    assert oracles.check_counts("z", {1: 5, 2: 7}, want) == []
    assert oracles.check_counts("z", {1: 5, 2: 8}, want)
    assert oracles.check_counts("z", {1: 5}, want)
    assert oracles.check_counts("z", {1: 5, 2: 7, 3: 1}, want)


def test_pairs_check_rejects_perturbation():
    want = {"count": 10, "checksum": 99}
    assert oracles.check_pairs({"count": 10, "checksum": 99}, want) == []
    assert oracles.check_pairs({"count": 11, "checksum": 99}, want)
    assert oracles.check_pairs({"count": 10, "checksum": 98}, want)


def test_knn_check_rejects_perturbation():
    rng = np.random.default_rng(4)
    qx, qy, ox, oy = (rng.uniform(0, 1, m) for m in (50, 50, 80, 80))
    sample = [3, 9, 17]
    brute = oracles.knn_brute(qx, qy, ox, oy, sample, 4)
    expected = {"knn_k": 4, "knn_queries": 50,
                "knn_sample": {str(q): nn for q, nn in brute.items()}}
    rows = {q: list(nn) for q, nn in brute.items()}
    assert oracles.check_knn(rows, 200, expected) == []
    assert oracles.check_knn(rows, 199, expected)
    bad = dict(rows)
    bad[9] = [o for o in range(80) if o not in rows[9]][:1] + rows[9][1:]
    assert oracles.check_knn(bad, 200, expected)


def test_sql_value_hash_rejects_perturbation():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from driver_check import value_hash

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert value_hash(a) == value_hash(a.iloc[::-1])
    b = a.copy()
    b.loc[1, "v"] = 1.2500001
    assert value_hash(a) != value_hash(b)


# --- accounting and names --------------------------------------------------------------


def test_unfinished_iteration_counts_as_failed():
    ev = [{"kind": "begin", "ops": 3},
          {"kind": "end", "ops": 3, "failed": 1},
          {"kind": "begin", "ops": 3}]
    assert run.tally(ev) == (6, 4)


def test_metric_names_are_well_formed_and_match_the_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    names = e2e + layer + [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(names)) == len(names)
    events = [{"kind": "setup", "setup_s": [1.0, 0.2, 0.3]},
              {"kind": "begin", "phase": "timed", "t": 10.0},
              {"kind": "end", "phase": "timed", "wall": 2.0, "times": {}, "t": 12.0}]
    metrics, ops = run.end_to_end(events, 10)
    assert list(metrics) == e2e
    assert all(v > 0 for v, _ in metrics.values())
    assert list(run.per_layer(events, ops, {"n_images": 1})) == layer
    assert {w["name"] for w in spec["workloads"]} == set(inputs.WORKLOADS)


def test_a_run_that_timed_nothing_still_reports_every_metric():
    events = [{"kind": "begin", "phase": "warmup", "ops": 3},
              {"kind": "end", "phase": "warmup", "ops": 3, "failed": 3,
               "errors": ["warmup: Py4JError: gone"]}]
    metrics, ops = run.end_to_end(events, 10)
    assert metrics == {"setup_s": (0.0, "s"), "iter_s": (0.0, "s"),
                       "throughput": (0.0, "items/s")}
    assert ops["iterations"] == 0
    assert run.tally(events) == (3, 3)


def test_rss_peaks_are_taken_per_timed_iteration():
    events = [{"kind": "begin", "phase": "warmup", "t": 1.0},
              {"kind": "end", "phase": "warmup", "t": 5.0},
              {"kind": "begin", "phase": "timed", "t": 10.0},
              {"kind": "end", "phase": "timed", "t": 12.0}]
    samples = [(2.0, 9), (9.0, 5), (11.0, 3), (11.5, 4), (13.0, 7)]
    assert run.iteration_peaks(events, samples) == [4]
