"""kNN golden-fixture cases (FIXTURES.md F4, mirroring the reference's
knn/ resource suite): fixed small cases with known answers, run at
parallelism 1 and 4 — results must be identical (partitioning-invariant,
like the reference's p1/p4 golden files)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sedona_spark.operators import knn_join

CASES = {
    # name: (objects, queries, k, expected {qid: [oid,...]})
    "simple": (
        [(i, float(i), float(i)) for i in range(1, 21)],  # diagonal line
        [(0, 10.0, 10.0)],
        3,
        {0: [10, 9, 11]},  # dist 0, √2, √2 — tie broken by oid
    ),
    "collinear": (
        [(i, float(i), 0.0) for i in range(10)],
        [(0, 0.0, 0.0), (1, 9.5, 0.0)],
        3,
        {0: [0, 1, 2], 1: [9, 8, 7]},
    ),
    "duplicate_queries": (
        [(i, float(i), float(i % 3)) for i in range(12)],
        [(0, 5.0, 1.0), (1, 5.0, 1.0)],  # same point twice
        4,
        None,  # computed below; both qids must agree
    ),
    "clustered_far_query": (
        [(i, float(i % 5), float(i // 5)) for i in range(25)],
        [(0, 400.0, 400.0)],  # forces multi-round ring expansion
        4,
        # (4,4)=24; (4,3)=19 ties (3,4)=23 → oid order; then (3,3)=18
        {0: [24, 19, 23, 18]},
    ),
}


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("parts", [1, 4])
def test_knn_golden(spark, case, parts):
    objs, qs, k, expected = CASES[case]
    odf = spark.createDataFrame(objs, "oid int, ox double, oy double").repartition(parts)
    qdf = spark.createDataFrame(qs, "qid int, qx double, qy double").repartition(parts)
    res = knn_join(qdf, odf, k=k, level=6, query_id="qid", qx="qx", qy="qy")
    got = {}
    for r in res.orderBy("qid", "knn_rank").collect():
        got.setdefault(r.qid, []).append(r.oid)

    if expected is None:
        # duplicate-query semantics: identical answers for identical points
        assert got[0] == got[1] and len(got[0]) == k
        arr = np.array([(x, y) for _, x, y in objs])
        d2 = ((arr - [5.0, 1.0]) ** 2).sum(axis=1)
        order = sorted(range(len(objs)), key=lambda i: (d2[i], i))[:k]
        assert got[0] == order
    else:
        assert got == expected, case


# --- exactness sweep: numpy brute force, ties broken by object id ---------


def _hotspots(rng, n):
    centers = rng.uniform(-30.0, 30.0, size=(3, 2))
    hot = centers[rng.integers(0, 3, n // 2)] + rng.normal(0.0, 0.8, (n // 2, 2))
    return np.vstack([hot, rng.uniform(-30.0, 30.0, size=(n - n // 2, 2))])


def _sweep_case(name):
    """(objects xy, queries xy, k, mode) derived in-process from a seed."""
    rng = np.random.default_rng(sum(map(ord, name)))
    if name == "clustered":
        return _hotspots(rng, 300), _hotspots(rng, 60), 5, None
    if name == "one_cell":
        # duplicate-heavy: every object in one cell, many coincident
        objs = np.round(rng.uniform([10.0, 5.0], [10.5, 5.3], (40, 2)), 1)
        return objs, rng.uniform(-60.0, 60.0, (20, 2)), 4, None
    if name == "k_gt_n":
        return rng.uniform(-5.0, 5.0, (3, 2)), rng.uniform(-40.0, 40.0, (10, 2)), 5, None
    if name == "far_query":
        qs = np.vstack([[[170.0, -85.0], [-175.0, 80.0]], rng.uniform(0.0, 10.0, (5, 2))])
        return rng.uniform(0.0, 10.0, (50, 2)), qs, 3, None
    if name == "poles_antimeridian":
        edge = np.array([[180.0, 0.0], [-180.0, 0.0], [0.0, 90.0], [0.0, -90.0],
                         [180.0, 90.0], [-180.0, -90.0], [179.9, 45.0], [-179.9, -45.0]])
        objs = np.vstack([edge, rng.uniform([-180.0, -90.0], [180.0, 90.0], (40, 2))])
        qs = np.array([[180.0, 10.0], [-180.0, -10.0], [30.0, 90.0], [-30.0, -90.0],
                       [179.0, 89.0], [-179.5, -89.5]])
        return objs, qs, 3, None
    if name == "self_join":
        objs = np.vstack([_hotspots(rng, 80), np.full((6, 2), 2.5)])  # 6 coincident
        return objs, objs, 4, "exclude"
    assert name == "ties"
    # integer lattice with doubled points: equal distances everywhere
    lattice = np.array([(x, y) for x in range(-3, 4) for y in range(-3, 4)], float)
    return np.vstack([lattice, lattice[::3]]), lattice[::4] + [0.0, 0.5], 3, "ties"


def _brute_knn(objs, qs, k, mode):
    """{qid: [(oid, rank)]}: (dist², oid) order; rank() ties under 'ties'."""
    d2 = (qs[:, 0:1] - objs[None, :, 0]) ** 2 + (qs[:, 1:2] - objs[None, :, 1]) ** 2
    out = {}
    for qi in range(len(qs)):
        oids = [o for o in range(len(objs)) if not (mode == "exclude" and o == qi)]
        order = sorted(oids, key=lambda o: (d2[qi, o], o))
        if mode == "ties":
            kth = d2[qi, order[min(k, len(order)) - 1]]
            out[qi] = [(o, 1 + sum(d2[qi, p] < d2[qi, o] for p in oids))
                       for o in order if d2[qi, o] <= kth]
        else:
            out[qi] = [(o, r + 1) for r, o in enumerate(order[:k])]
    return out


SWEEP = ["clustered", "one_cell", "k_gt_n", "far_query", "poles_antimeridian",
         "self_join", "ties"]


@pytest.mark.parametrize("level", [5, 7])
@pytest.mark.parametrize("case", SWEEP)
def test_knn_exact_sweep(spark, case, level):
    objs, qs, k, mode = _sweep_case(case)
    odf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(objs)],
        "oid int, ox double, oy double")
    qdf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(qs)],
        "qid int, qx double, qy double")
    res = knn_join(qdf, odf, k=k, level=level, query_id="qid", qx="qx", qy="qy",
                   include_ties=mode == "ties",
                   exclude_pair=("qid", "oid") if mode == "exclude" else None)
    got = {}
    for r in res.orderBy("qid", "knn_rank", "oid").collect():
        got.setdefault(r.qid, []).append((r.oid, r.knn_rank))
    assert got == _brute_knn(objs, qs, k, mode)


def test_knn_join_releases_cache_on_failure(spark):
    """A join that runs out of rounds raises and leaves no cached data:
    an off-grid query (lon/lat far beyond ±180/±90) is clamped into an
    edge cell, so no cell-count radius certifies it in one round."""
    spark.catalog.clearCache()
    objs = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(10)], "oid int, ox double, oy double")
    q = spark.createDataFrame([(0, 500.0, 500.0)], "qid int, qx double, qy double")
    with pytest.raises(RuntimeError, match="max_rounds"):
        knn_join(q, objs, k=3, level=6, query_id="qid", qx="qx", qy="qy",
                 max_rounds=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Spark jobs of a one-round knn_join plus its count() on the test session
# (local[4], 8 shuffle partitions): 15 measured, one spare for AQE
# scheduling; every further round adds about 6.
ONE_ROUND_JOBS = 16


def test_knn_join_one_round_job_pin(spark):
    """Count-certified first rings resolve a seeded clustered join in one
    round; the job count of the whole operator stays under the pin."""
    rng = np.random.default_rng(11)
    objs, qs = _hotspots(rng, 2000), _hotspots(rng, 400)
    odf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(objs)],
        "oid int, ox double, oy double")
    qdf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(qs)],
        "qid int, qx double, qy double")
    sc = spark.sparkContext
    sc.setJobGroup("knn_job_pin", "knn_join job-count pin")
    try:
        n = knn_join(qdf, odf, k=8, level=7, query_id="qid", qx="qx", qy="qy",
                     max_rounds=1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 8 * len(qs)
    assert len(sc.statusTracker().getJobIdsForGroup("knn_job_pin")) <= ONE_ROUND_JOBS


def test_certified_radius_table_cap_and_parent_fallback():
    """The driver-side radius table holds its invariant when it is built
    one level up (occupied bbox over the cell cap) and when sparse cells
    fall back to their parent's radius: the cells lying wholly within B
    of every point of a table cell hold >= need objects."""
    from sedona_spark import cells
    from sedona_spark.operators.knn import _TABLE_CELLS, _certified_radius

    rng = np.random.default_rng(5)
    level, need = 12, 8
    n = 1 << level
    gx = np.concatenate([rng.integers(0, n, 300), rng.integers(100, 110, 500)])
    gy = np.concatenate([rng.integers(0, n, 300), rng.integers(200, 205, 500)])
    cnt = rng.integers(1, 4, gx.size).astype(float)
    t, x0, y0, radius = _certified_radius(gx, gy, cnt, level, need)
    assert t < level and radius.size <= _TABLE_CELLS
    assert np.isfinite(radius).all()
    cw, ch = cells.cell_width(t), cells.cell_height(t)
    tx, ty = gx >> (level - t), gy >> (level - t)
    for i, j in zip(rng.integers(0, radius.shape[0], 300),
                    rng.integers(0, radius.shape[1], 300)):
        far = np.hypot((abs(tx - x0 - i) + 1) * cw, (abs(ty - y0 - j) + 1) * ch)
        assert cnt[far <= radius[i, j]].sum() >= need
