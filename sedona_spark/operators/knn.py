"""kNN query and kNN join (exact, partitioning-invariant, with tie option).

Reference semantics: ``JoinQuery.knnJoin`` (``JoinQuery.java:769-963``) —
exact k nearest per query, EUCLIDEAN metric, optional ties
(``sedona.join.knn.includeTieBreakers``); completeness enforced via Simba
distance bounds (``QuadTreeRTPartitioner.java:32-61``) and per-query local
heaps (``InMemoryKNNJoinIterator.java:99-154``).

Our algorithm (north_rule: "iterative k-ring expansion + per-partition
bounded heap"):

1. index objects by grid cell at ``level``;
2. size each query's first disk from exact object counts per cell two
   levels finer than ``level`` (one aggregate, which also materializes the
   object cache). For every such cell ``h`` of the occupied bbox the
   driver finds the smallest radius ``B`` such that the cells lying
   wholly within ``B`` of every point of ``h`` hold ≥ k objects; a query
   in ``h`` then has ≥ k objects within ``B``, and its disk spans
   ``ceil(B/cell_w)`` cells in x and ``ceil(B/cell_h)`` in y. The radius
   table is broadcast to the queries;
3. each unresolved query explodes to its disk of ``_ring`` × ``_ring_y``
   cells around its cell; equi-join on cell; rank candidates per query by
   (dist², object id) with a window — Spark's window TopK is the
   "bounded heap" (partial aggregation keeps state ≤ k per query);
4. a query is *resolved* when it has ≥ k candidates and its kth distance is
   ≤ the guaranteed-complete bound: any object outside the disk is more
   than ``_ring`` full cell-widths away in x or ``_ring_y`` cell-heights in
   y, so kth_dist ≤ min(ring·cell_w, ring_y·cell_h) proves no closer
   object exists outside the disk. (Same invariant as the reference's
   γᵢ = 2uᵢ + |crᵢ,sₖ| bound — ours is the grid form.) Step 2's disk
   passes this test in round 1 whenever queries and objects lie inside
   the grid's lon/lat extent (edge cells clamp points beyond it);
5. unresolved queries grow each ring to the width their kth distance
   needs (4× when they have < k candidates) and repeat. Termination: the
   disk eventually covers the whole grid.

The loop is driver-side control flow over DataFrame ops (a count per
round). Only the counts reach the driver — one row per occupied count
cell — and the broadcast table is capped at ``_TABLE_CELLS`` cells.
Euclid queries inside the extent resolve in round 1; geodesic first
rings are sized from the global density, and rounds are O(log grid)
worst case.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sedona_spark import cells
from sedona_spark.functions import st
from sedona_spark.functions.st_measures import (
    _EARTH_RADIUS_M,
    _WGS84_A,
    _WGS84_F,
    st_distance_sphere,
    st_distance_spheroid,
)

_RAD = math.pi / 180.0
# First-ring object counts are taken this many levels finer than the join:
# a cell's certified radius is at least its own diagonal, so quarter-cells
# keep it from inflating the disk where join cells hold many objects.
_COUNT_LEVELS = 2
# Largest first-ring radius table (cells) the driver builds and broadcasts;
# a wider occupied bbox is tabulated at the finest coarser level that fits.
_TABLE_CELLS = 1 << 16
# The per-cell radius sweep spans this many cells of the wider axis; a
# cell that needs more takes its parent cell's radius.
_SWEEP_CELLS = 8


def knn_query(
    points: DataFrame,
    qx: float,
    qy: float,
    k: int,
    x: str = "x",
    y: str = "y",
    tiebreak: str | None = None,
) -> DataFrame:
    """Single-point kNN: global TakeOrderedAndProject, exactly how the
    reference collapses to ``takeOrdered(k)`` (``KNNQuery.java:47-79``).
    ``tiebreak`` names a column used to order equal distances
    deterministically."""
    d2 = st.st_distance_sq(F.col(x), F.col(y), F.lit(float(qx)), F.lit(float(qy)))
    order = [F.col("dist_sq").asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    return points.withColumn("dist_sq", d2).orderBy(*order).limit(k)


def _disk_join(
    queries: DataFrame,
    objects_c: DataFrame,
    level: int,
    qx: str,
    qy: str,
    ox: str,
    oy: str,
    metric: str = "euclid",
) -> DataFrame:
    """Join each query to all objects within its per-query cell disk:
    ``_ring`` cells either side in x and ``_ring_y`` in y (cells are not
    square, and a geodesic disk's full longitude coverage needs only the
    LATITUDE band the y-bound certifies)."""
    n = 1 << level
    home = cells.cell_id(F.col(qx), F.col(qy), level)
    cx, cy = cells.cell_x(home), cells.cell_y(home)
    rng = F.col("_ring")
    rng_y = F.col("_ring_y")
    if metric in ("sphere", "spheroid"):
        # longitude is CYCLIC on the sphere: wrap the x-range via pmod so a
        # query at lon 179.9 probes cells across the antimeridian instead
        # of escalating to the full grid (same wrap as distance_geo.py);
        # capped at the half-ring so wrap never duplicates a cell
        kx = F.least(rng, F.lit(n // 2))
        xs = F.when(
            rng >= n // 2, F.sequence(F.lit(0), F.lit(n - 1))
        ).otherwise(F.sequence(cx - kx, cx + kx))
        qc = (
            queries.withColumn("_gxr", F.explode(xs))
            .withColumn("_gx", F.pmod(F.col("_gxr"), F.lit(n)))
            .drop("_gxr")
        )
    else:
        xs = F.sequence(
            F.greatest(F.lit(0), cx - rng), F.least(F.lit(n - 1), cx + rng)
        )
        qc = queries.withColumn("_gx", F.explode(xs))
    ys = F.sequence(
        F.greatest(F.lit(0), cy - rng_y), F.least(F.lit(n - 1), cy + rng_y)
    )
    qc = (
        qc.withColumn("_gy", F.explode(ys))
        .withColumn("cell", cells.cell_of(F.col("_gx"), F.col("_gy"), level))
        .drop("_gx", "_gy")
    )
    j = qc.join(objects_c, "cell").drop("cell")
    if metric in ("sphere", "spheroid"):
        dist_fn = st_distance_sphere if metric == "sphere" else st_distance_spheroid
        return j.withColumn(
            "dist_m",
            dist_fn(F.col(qx), F.col(qy), F.col(ox), F.col(oy)),
        )
    return j.withColumn(
        "dist_sq", st.st_distance_sq(F.col(qx), F.col(qy), F.col(ox), F.col(oy))
    )


def knn_join_broadcast(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
    metric: str = "euclid",
    max_query_rows: int = 2_000_000,
) -> DataFrame:
    """Broadcast-QUERY-side kNN join (``BroadcastQuerySideKNNJoinExec``):
    the query set is small by contract — ship it to every partition, scan
    the object side ONCE with zero shuffle, keep per-(query, partition)
    top-k locally (numpy argpartition = the bounded heap), then one global
    per-query top-k over the tiny candidate set.

    Candidate volume ≤ k · |queries| · n_partitions, so the final window
    is negligible; the object side is never replicated or shuffled — the
    right plan when |queries| ≪ |objects| (reverse of the k-ring path).

    Returns (query cols…, object id cols…, dist_sq|dist_m, knn_rank).
    Deterministic ties: (distance, first object column).

    ``max_query_rows`` guards the driver collect the same way the reference
    gates broadcast on ``autoBroadcastJoinThreshold``
    (``JoinQueryDetector.scala:191-202``): an oversize query side raises
    instead of OOMing the driver."""
    qrows = queries.select(query_id, qx, qy).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"knn_join_broadcast: query side exceeds max_query_rows="
            f"{max_query_rows}; use knn_join (k-ring path) or raise the limit"
        )
    if not qrows:
        raise ValueError("knn_join_broadcast requires a non-empty query side")
    q_ids = [r[query_id] for r in qrows]
    q_xy = np.array([[float(r[qx]), float(r[qy])] for r in qrows])
    obj_cols = objects.columns
    dcol = "dist_m" if metric == "sphere" else "dist_sq"

    out_schema = ", ".join(
        [f"`{query_id}` {queries.schema[query_id].dataType.simpleString()}"]
        + [f"`{c}` {objects.schema[c].dataType.simpleString()}" for c in obj_cols]
        + [f"{dcol} double"]
    )

    def gen(batches):
        for b in batches:
            ox = b[obj_x].to_numpy(dtype=np.float64)
            oy = b[obj_y].to_numpy(dtype=np.float64)
            if metric == "sphere":
                rad = _RAD
                dlat = (oy[None, :] - q_xy[:, 1:2]) * rad
                dlon = (ox[None, :] - q_xy[:, 0:1]) * rad
                a = (
                    np.sin(dlat / 2) ** 2
                    + np.cos(q_xy[:, 1:2] * rad)
                    * np.cos(oy[None, :] * rad)
                    * np.sin(dlon / 2) ** 2
                )
                d = 2.0 * _EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
            else:
                d = (ox[None, :] - q_xy[:, 0:1]) ** 2 + (
                    oy[None, :] - q_xy[:, 1:2]
                ) ** 2
            # keep EVERY row at distance <= the local kth value (not an
            # arbitrary argpartition cut): candidates tied at the kth
            # distance must all survive so the deterministic global window
            # — ordered by (distance, object columns) — picks the winners
            kk = min(k, d.shape[1])
            kth = np.partition(d, kk - 1, axis=1)[:, kk - 1 : kk]
            qi, oi = np.nonzero(d <= kth)
            rows = {query_id: np.asarray(q_ids)[qi]}
            for c in obj_cols:
                rows[c] = b[c].to_numpy()[oi]
            rows[dcol] = d[qi, oi]
            yield pd.DataFrame(rows)

    cand = objects.mapInPandas(gen, schema=out_schema)
    order_cols = [c for c in obj_cols if c not in (obj_x, obj_y)]
    w = Window.partitionBy(query_id).orderBy(
        F.col(dcol).asc(), *[F.col(c).asc() for c in order_cols]
    )
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )


def knn_join_obj_broadcast(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
    metric: str = "euclid",
    max_object_rows: int = 2_000_000,
) -> DataFrame:
    """Broadcast-OBJECT-side kNN join (``BroadcastObjectSideKNNJoinExec``):
    the symmetric case — a small object table against a huge query stream.
    The object table is collected once (size-guarded like the reference's
    ``autoBroadcastJoinThreshold`` gate), pre-sorted by the deterministic
    tie-break columns, and shipped as numpy arrays into a single
    ``mapInPandas`` over the query side: per batch one vectorized distance
    matrix + a STABLE argsort, so equal distances resolve by the pre-sorted
    object order — identical output contract to ``knn_join``
    (row_number semantics). Zero shuffle; the query side streams through.
    """
    obj_cols = objects.columns
    order_cols = [c for c in obj_cols if c not in (obj_x, obj_y)]
    osorted = objects.orderBy(*[F.col(c).asc() for c in order_cols])
    orows = osorted.limit(max_object_rows + 1).collect()
    if len(orows) > max_object_rows:
        raise ValueError(
            f"knn_join_obj_broadcast: object side exceeds max_object_rows="
            f"{max_object_rows}; use knn_join (k-ring path) or raise the limit"
        )
    if not orows:
        raise ValueError("knn_join_obj_broadcast requires a non-empty object side")
    o_xy = np.array([[float(r[obj_x]), float(r[obj_y])] for r in orows])
    o_vals = {c: np.array([r[c] for r in orows]) for c in obj_cols}
    kk = min(k, len(orows))
    dcol = "dist_m" if metric == "sphere" else "dist_sq"

    q_schema = queries.schema
    qcols = queries.columns
    out_schema = ", ".join(
        [f"`{c}` {q_schema[c].dataType.simpleString()}" for c in qcols]
        + [f"`{c}` {objects.schema[c].dataType.simpleString()}" for c in obj_cols]
        + [f"{dcol} double", "knn_rank int"]
    )

    def gen(batches):
        for b in batches:
            bx = b[qx].to_numpy(dtype=np.float64)
            by = b[qy].to_numpy(dtype=np.float64)
            if metric == "sphere":
                rad = _RAD
                dlat = (o_xy[None, :, 1] - by[:, None]) * rad
                dlon = (o_xy[None, :, 0] - bx[:, None]) * rad
                a = (
                    np.sin(dlat / 2) ** 2
                    + np.cos(by[:, None] * rad)
                    * np.cos(o_xy[None, :, 1] * rad)
                    * np.sin(dlon / 2) ** 2
                )
                d = 2.0 * _EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
            else:
                d = (o_xy[None, :, 0] - bx[:, None]) ** 2 + (
                    o_xy[None, :, 1] - by[:, None]
                ) ** 2
            # stable sort on a pre-(order_cols)-sorted object array = exact
            # (distance, object order) ranking with no per-row python
            idx = np.argsort(d, axis=1, kind="stable")[:, :kk]
            flat = idx.ravel()
            nq = len(bx)
            rows = {}
            for c in qcols:
                rows[c] = np.repeat(b[c].to_numpy(), kk)
            for c in obj_cols:
                rows[c] = o_vals[c][flat]
            rows[dcol] = np.take_along_axis(d, idx, axis=1).ravel()
            rows["knn_rank"] = np.tile(np.arange(1, kk + 1, dtype=np.int32), nq)
            yield pd.DataFrame(rows)

    return queries.mapInPandas(gen, schema=out_schema)


def _certified_radius(
    gx: np.ndarray, gy: np.ndarray, cnt: np.ndarray, level: int, need: int
) -> tuple[int, int, int, np.ndarray]:
    """Per cell ``h`` of the occupied bbox at ``level``: a radius ``B`` such
    that the cells lying WHOLLY within ``B`` of every point of ``h`` hold
    ≥ ``need`` objects, so every point of ``h`` has ≥ ``need`` objects
    within ``B``. The cell at offset (dx, dy) qualifies once
    hypot((|dx|+1)·cw, (|dy|+1)·ch) ≤ ``B``; offsets are swept in that
    order, so ``B`` is the smallest such radius up to ``_SWEEP_CELLS``
    cells. A cell needing more takes its parent cell's ``B`` (a coarse
    radius bounds every point of the coarse cell), so the sweep stays
    O(_SWEEP_CELLS²) array adds per level. A bbox wider than
    ``_TABLE_CELLS`` is tabulated at the finest coarser level that fits
    (counts roll up exactly). Requires ``cnt.sum() >= need`` (level 0 then
    always certifies).

    Returns ``(table_level, x0, y0, B)`` with ``B[gx - x0, gy - y0]`` in
    ``table_level`` grid indices."""
    x0, y0 = int(gx.min()), int(gy.min())
    w, h = int(gx.max()) - x0 + 1, int(gy.max()) - y0 + 1
    if w * h > _TABLE_CELLS:
        return _certified_radius(gx >> 1, gy >> 1, cnt, level - 1, need)
    grid = np.zeros((w, h))
    np.add.at(grid, (gx - x0, gy - y0), cnt)
    cw, ch = cells.cell_width(level), cells.cell_height(level)
    reach = _SWEEP_CELLS * max(cw, ch)
    na, nb = min(w, int(reach / cw)), min(h, int(reach / ch))
    far = np.hypot((np.arange(na)[:, None] + 1) * cw,
                   (np.arange(nb)[None, :] + 1) * ch)
    pad = np.pad(grid, ((na, na), (nb, nb)))
    total = np.zeros_like(grid)
    radius = np.full(grid.shape, np.inf)
    for o in np.argsort(far, axis=None, kind="stable"):
        a, b = divmod(int(o), nb)
        for dx in {a, -a}:
            for dy in {b, -b}:
                total += pad[na + dx:na + dx + w, nb + dy:nb + dy + h]
        # offsets ascend in distance: the first certifying one is minimal
        radius[(total >= need) & (radius == np.inf)] = far.flat[o]
        if not np.isinf(radius).any():
            return level, x0, y0, radius
    _, px0, py0, up = _certified_radius(gx >> 1, gy >> 1, cnt, level - 1, need)
    ix = ((np.arange(w) + x0) >> 1) - px0
    iy = ((np.arange(h) + y0) >> 1) - py0
    return level, x0, y0, np.minimum(radius, up[np.ix_(ix, iy)])


def _first_rings(
    queries: DataFrame,
    ids: np.ndarray,
    cnt: np.ndarray,
    count_level: int,
    level: int,
    need: int,
    qx: str,
    qy: str,
) -> DataFrame:
    """Attach each query's count-certified first disk (``_ring`` cells in
    x, ``_ring_y`` in y at ``level``) from the object count ``cnt`` of
    each occupied cell ``ids`` at ``count_level`` (``cnt.sum() >= need``).

    The radius table of ``_certified_radius`` is broadcast (a coarse
    table's radius bounds every fine cell inside its cell). A query whose
    table-level cell ``h`` lies outside the bbox uses its clamped cell
    ``h'`` plus the farthest a point of ``h`` can be from ``h'``
    (triangle inequality). The disk then holds every object within ``B``
    of the query — ≥ ``need`` of them — and every object outside it is
    farther than min(ring·cw, ring_y·ch) ≥ B, so the round-1 completeness
    test passes."""
    gx, gy = cells.np_cell_xy(ids)
    t, x0, y0, radius = _certified_radius(gx, gy, cnt, count_level, need)
    w, h = radius.shape
    hx, hy = cells._grid_x(F.col(qx), t), cells._grid_y(F.col(qy), t)
    kx = F.least(F.greatest(hx, F.lit(x0)), F.lit(x0 + w - 1))
    ky = F.least(F.greatest(hy, F.lit(y0)), F.lit(y0 + h - 1))
    table = F.broadcast(queries.sparkSession.createDataFrame(pd.DataFrame(
        {"_tk": np.arange(w * h, dtype=np.int64), "_tb": radius.ravel()})))
    b = table["_tb"] + F.hypot(
        (hx - kx) * F.lit(cells.cell_width(t)),
        (hy - ky) * F.lit(cells.cell_height(t)),
    )
    n_side = 1 << level
    return queries.join(table, (kx - x0) * h + (ky - y0) == table["_tk"]).select(
        *[queries[c] for c in queries.columns],
        F.least(F.lit(n_side), F.ceil(b / F.lit(cells.cell_width(level))))
        .cast("int").alias("_ring"),
        F.least(F.lit(n_side), F.ceil(b / F.lit(cells.cell_height(level))))
        .cast("int").alias("_ring_y"),
    )


def knn_join(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    level: int = 7,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
    include_ties: bool = False,
    max_rounds: int = 32,
    exclude_pair: tuple[str, str] | None = None,
    metric: str = "euclid",
) -> DataFrame:
    """Exact kNN join. Returns query columns + object columns + ``dist_sq``
    + ``knn_rank`` (1-based). With ``include_ties`` rows tied with the kth
    distance are all kept (reference tie semantics,
    ``InMemoryKNNJoinIterator.java:123-154``); otherwise ties break by the
    object-id ordering column for determinism.

    ``exclude_pair=(qcol, ocol)`` drops candidates with ``qcol == ocol``
    BEFORE ranking — the self-exclusion a kNN *self*-join needs (excluding
    after ranking under-counts when >k coincident points exist).

    ``metric='sphere'`` ranks by haversine METERS (``dist_m`` replaces
    ``dist_sq``) — the reference's ``DistanceMetric.HAVERSINE``
    (``KnnJoinIndexJudgement.java:49``). The probe disk WRAPS in longitude
    (cyclic pmod, like ``distance_geo``), so antimeridian neighbors are
    found at ring cost, not full-grid cost. Completeness bound (exact):
    an object outside the wrapped disk is either ≥ ring cells away in
    LATITUDE (distance ≥ R·Δφ — haversine is minimized at Δλ=0), or ≥ ring
    cells away in cyclic LONGITUDE (distance ≥ 2R·cos(φ_max)·sin(Δλ/2)
    with φ_max the largest |lat| in the disk's lat band); once the ring
    covers the half-circumference only the latitude bound applies. Near
    the poles cos(φ_max) → 0 and resolution falls back to the latitude
    bound — conservative, never wrong."""
    obj_order = [c for c in objects.columns if c not in (obj_x, obj_y)]
    qcols = queries.columns
    ch, cw = cells.cell_height(level), cells.cell_width(level)
    n_side = 1 << level
    geodesic = metric in ("sphere", "spheroid")
    # exclusion bounds must LOWER-bound the metric: haversine uses the mean
    # radius; the Andoyer spheroid distance is 2aw·(1+corr) with the
    # correction term bounded by |corr| ≤ f·(3R+1)/2·min(cos²F/cos²λ,
    # sin²G/sin²λ) ≤ 4f, so the SPHEROID metric reuses the sphere bounds
    # with radius a·(1−5f) — strictly below every possible Andoyer arc
    # (≈1.7% looser rings than the sphere path; correctness over economy)
    r_bound = _EARTH_RADIUS_M if metric != "spheroid" else _WGS84_A * (1.0 - 5.0 * _WGS84_F)
    dcol = "dist_m" if geodesic else "dist_sq"
    # a self-excluding join must certify one extra object per query
    need = k + (exclude_pair is not None)
    rank_fn = F.rank() if include_ties else F.row_number()

    if include_ties:
        # rank() over distance ONLY: every row tied with the kth
        # distance shares its rank and survives the <= k filter
        # (InMemoryKNNJoinIterator.java:123-154 tie expansion)
        w = Window.partitionBy(query_id).orderBy(F.col(dcol).asc())
    else:
        w = Window.partitionBy(query_id).orderBy(
            F.col(dcol).asc(), *[F.col(c).asc() for c in obj_order]
        )
    wq = Window.partitionBy(query_id)

    # per-query completeness bound, evaluated PER ROW on the ranked
    # candidates (no separate stats aggregation / join — one window pass):
    # kth distance ≤ bound(ring) guarantees no closer object outside the
    # disk; a disk covering the whole grid is complete by definition.
    # Each axis has its own ring: an object outside the disk is
    # ≥ _ring cells away in x or ≥ _ring_y cells away in y
    rr = F.col("_ring").cast("double")
    ry = F.col("_ring_y").cast("double")
    if geodesic:
        # the x-disk WRAPS (cyclic longitude): excluded-by-x objects have
        # cyclic lon separation ≥ ring·cell_w; once ring ≥ n/2 the full lon
        # ring is covered and only the latitude bound applies
        r_earth = F.lit(r_bound)
        y_bound = r_earth * (ry * F.lit(ch * _RAD))
        phi_max = F.least(F.lit(90.0), F.abs(F.col(qy)) + (ry + 1) * F.lit(ch))
        cmin = F.cos(phi_max * F.lit(_RAD))
        ang = F.least(rr * F.lit(cw), F.lit(180.0))
        x_bound = F.lit(2.0) * r_earth * cmin * F.sin(ang * F.lit(_RAD) / 2)
        bound = F.when(rr >= n_side // 2, y_bound).otherwise(
            F.least(y_bound, x_bound)
        )
        # wrapped longitude covers at the half-ring
        x_full = n_side // 2
    else:
        # a ring spanning the grid leaves nothing outside on its axis
        far = F.lit(float("inf"))
        reach = F.least(
            F.when(rr >= n_side, far).otherwise(rr * F.lit(cw)),
            F.when(ry >= n_side, far).otherwise(ry * F.lit(ch)),
        )
        bound = reach * reach
        x_full = n_side
    full_cover = (F.col("_ring") >= x_full) & (F.col("_ring_y") >= n_side)

    def widen(ring: str):
        # blind growth, capped at the grid (a wider ring covers nothing more)
        return F.least(F.lit(n_side), F.col(ring) * 4)

    done_expr = (
        (F.col("_cnt") >= k) & (F.col("_kth") <= bound)
    ) | full_cover

    # Geodesic metrics probe much wider disks (the longitude ring scales
    # by 1/cos φ), so their map-side probes are CPU-heavy enough that the
    # object cache must be spread across the configured parallelism
    # rather than pinned to the source's input-split count. For euclid
    # the probes are cheap and the extra shuffle measurably loses —
    # cache the scan partitions as-is.
    objects_c = objects.withColumn(
        "cell", cells.cell_id(F.col(obj_x), F.col(obj_y), level)
    )
    if geodesic:
        npart = int(
            objects.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        objects_c = objects_c.repartition(npart)
    objects_c = objects_c.persist()
    try:
        # materializes the object cache (reused every round) and sizes the
        # first ring: one row per occupied count cell reaches the driver
        fine = min(level + _COUNT_LEVELS, cells.MAX_LEVEL)
        counts = (
            objects_c.select(
                cells.cell_id(F.col(obj_x), F.col(obj_y), fine).alias("c"))
            .dropna().groupBy("c").count().toPandas()
        )
        ids = counts["c"].to_numpy(np.int64)
        cnt = counts["count"].to_numpy(np.float64)
        n_obj = cnt.sum()
        results: list[DataFrame] = []
        if geodesic:
            # density-sized first ring: a disk expected to hold ≥ 4·k
            # objects at the global mean density
            exp_per_cell = max(n_obj / float(n_side * n_side), 1e-9)
            ring0 = int(math.ceil((math.sqrt(4.0 * k / exp_per_cell) - 1.0) / 2.0))
            ring0 = max(1, min(ring0, n_side))
            # high-latitude queries need a wider LONGITUDE disk before the
            # x-bound (∝ cos φ) can certify the kth distance: scale the initial
            # ring by 1/cos(lat) so polar queries also resolve in round 1
            # instead of doubling through extra rounds
            scaled = F.least(
                F.lit(n_side),
                F.ceil(
                    F.lit(float(ring0))
                    / F.greatest(F.cos(F.radians(F.col(qy))), F.lit(2.0 / n_side))
                ),
            )
            # if the scaled disk's lat band touches the pole, cos(φ_max) = 0
            # kills the x-bound and round 1 can NEVER certify — jump the
            # LONGITUDE ring straight to the half-ring (full wrapped lon
            # coverage), where only the y-bound applies. The LATITUDE ring
            # (_ring_y) stays at the density-scaled size: the asymmetric disk
            # keeps polar candidate volume proportional to the lat band the
            # y-bound actually needs, instead of a square (n/2)² blow-up
            polar = F.abs(F.col(qy)) + (scaled + 1) * F.lit(ch) >= F.lit(90.0)
            ring_expr = F.when(
                polar, F.greatest(scaled, F.lit(float(n_side // 2)))
            ).otherwise(scaled).cast("int")
            unresolved = queries.withColumn("_ring", ring_expr).withColumn(
                "_ring_y", scaled.cast("int")
            )
        elif n_obj >= need:
            unresolved = _first_rings(
                queries, ids, cnt, fine, level, need, qx, qy)
        else:
            # fewer objects than k: only the whole grid is complete
            unresolved = queries.withColumn("_ring", F.lit(n_side)).withColumn(
                "_ring_y", F.lit(n_side))

        for _ in range(max_rounds):
            disk = _disk_join(unresolved, objects_c, level, qx, qy, obj_x, obj_y, metric)
            if exclude_pair is not None:
                disk = disk.filter(F.col(exclude_pair[0]) != F.col(exclude_pair[1]))
            # rank window + count/max windows share the same partitioning →
            # one shuffle; the lazy localCheckpoint materializes inside the
            # count job below — ONE pass over the data per round (round 1 of
            # the old shape ran 3 jobs: results checkpoint, nxt checkpoint,
            # count)
            cand = (
                disk
                .withColumn("knn_rank", rank_fn.over(w))
                .filter(F.col("knn_rank") <= k)
                .withColumn("_cnt", F.count(F.lit(1)).over(wq))
                .withColumn("_kth", F.max(dcol).over(wq))
                .withColumn("_done", done_expr)
                .localCheckpoint(eager=False)
            )
            results.append(
                cand.filter(F.col("_done")).drop("_cnt", "_kth", "_done")
            )

            # adaptive growth: with ≥k candidates the kth distance is an upper
            # bound on the true kth ⇒ size each axis's ring so its bound ≥ kth;
            # with <k candidates grow 4× blind
            notdone = cand.filter(~F.col("_done")).groupBy(query_id).agg(
                *[F.first(c).alias(c) for c in qcols if c != query_id],
                F.first("_cnt").alias("_cnt"),
                F.first("_kth").alias("_kth"),
                F.first("_ring").alias("_r"),
                F.first("_ring_y").alias("_ry"),
            )
            if geodesic:
                kth = F.col("_kth")
                ring_y = kth / F.lit(r_bound * ch * _RAD)
                phi_max_g = F.least(
                    F.lit(90.0), F.abs(F.col(qy)) + (F.col("_r") + 1) * F.lit(ch)
                )
                cmin_g = F.greatest(F.cos(phi_max_g * F.lit(_RAD)), F.lit(1e-12))
                ang_needed = (
                    F.lit(2.0 / _RAD)
                    * F.asin(F.least(F.lit(1.0), kth / (F.lit(2.0) * F.lit(r_bound) * cmin_g)))
                )
                ring_x = ang_needed / F.lit(cw)
                # each axis grows by its OWN requirement: certification needs
                # min(y_bound(_ring_y), x_bound(_ring)) >= kth, i.e. both
                grown = F.least(
                    F.lit(float(n_side)),
                    F.greatest(F.ceil(ring_x) + 1,
                               F.col("_r").cast("double") * 2),
                )
                grown_y = F.least(
                    F.lit(float(n_side)),
                    F.greatest(F.ceil(ring_y) + 1,
                               F.col("_ry").cast("double") * 2),
                )
                # near-pole: the x-bound is capped at 2R·cos(φ_max); if even
                # that ceiling cannot certify kth, jump straight to the
                # half-ring (full wrapped longitude coverage — beyond it only
                # the latitude bound matters) instead of doubling through
                # useless intermediate rounds
                hopeless_x = F.lit(2.0) * F.lit(r_bound) * cmin_g < kth
                grown = F.when(
                    hopeless_x, F.greatest(grown, F.lit(float(n_side // 2)))
                ).otherwise(grown)
            else:
                kth = F.sqrt(F.col("_kth"))
                grown = F.least(F.lit(float(n_side)), F.ceil(kth / F.lit(cw)) + 1)
                grown_y = F.least(F.lit(float(n_side)), F.ceil(kth / F.lit(ch)) + 1)
            remaining = (
                notdone.withColumn(
                    "_ring",
                    F.when(F.col("_cnt") >= k, grown)
                    .otherwise(widen("_r"))
                    .cast("int"),
                )
                .withColumn(
                    "_ring_y",
                    F.when(F.col("_cnt") >= k, grown_y)
                    .otherwise(widen("_ry"))
                    .cast("int"),
                )
                .drop("_cnt", "_kth", "_r", "_ry")
            )
            # queries with ZERO candidates produce no cand row: widen them too
            # (unless their disk already covered the whole grid — then there is
            # genuinely nothing to return and they are done)
            missing = (
                unresolved.join(cand, query_id, "left_anti")
                .filter(~full_cover)
                .withColumn("_ring", widen("_ring"))
                .withColumn("_ring_y", widen("_ring_y"))
            )
            nxt = remaining.unionByName(missing).localCheckpoint(eager=False)
            n_rem = nxt.count()  # materializes cand + nxt checkpoints (1 job)
            unresolved = nxt
            if n_rem == 0:
                break
        else:
            raise RuntimeError("knn_join failed to converge (max_rounds exceeded)")
    finally:
        objects_c.unpersist()
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.drop("_ring", "_ring_y")


def knn_join_approx(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    level: int = 7,
    ring: int = 1,
    query_id: str = "qid",
    qx: str = "x",
    qy: str = "y",
    obj_x: str = "ox",
    obj_y: str = "oy",
) -> DataFrame:
    """APPROXIMATE kNN join (reference: the approximate-distance join mode
    of ``KNNJoinExec.scala:55``) — ONE fixed-ring disk pass, no
    completeness iteration:

    * each query joins objects in its (2·ring+1)² cell neighborhood at
      ``level`` and keeps the k nearest AMONG THOSE CANDIDATES;
    * error bound: a returned rank-i neighbor can be wrong only if the
      true rank-i neighbor lies outside the disk, i.e. farther than
      ``ring·min(cell_w, cell_h)`` — the result is EXACT whenever the
      true kth distance is under that bound, and each reported distance
      is within one disk diameter of the true one otherwise;
    * queries with < k in-disk candidates return fewer rows (they are the
      signal to re-run exact ``knn_join``).

    At 100 TB this is the single-shuffle fast path: one equi-join on the
    cell key + one windowed top-k, no per-round count jobs, no
    checkpoint loop — and it is fully SQL-expressible, so unlike the
    exact path it carries a complete value oracle."""
    obj_order = [c for c in objects.columns if c not in (obj_x, obj_y)]
    objects_c = objects.withColumn(
        "cell", cells.cell_id(F.col(obj_x), F.col(obj_y), level)
    )
    qs = queries.withColumn("_ring", F.lit(int(ring))).withColumn(
        "_ring_y", F.lit(int(ring)))
    disk = _disk_join(qs, objects_c, level, qx, qy, obj_x, obj_y)
    w = Window.partitionBy(query_id).orderBy(
        F.col("dist_sq").asc(), *[F.col(c).asc() for c in obj_order]
    )
    return (
        disk.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .drop("_ring", "_ring_y")
    )
