"""Hierarchical int64 lon/lat cell grid — the engine's spatial index.

Columnar analog of the reference's cell-index functions
(``common/src/main/java/org/apache/sedona/common/Functions.java:1675-1694
s2CellIDs``, ``:1714-1735 h3CellIDs``, k-ring ``:1773-1779``): every geometry
maps to one or more int64 cell ids; spatial joins become equi-joins on the
cell id; "spatial partitioning" is the hash shuffle Catalyst already does on
the join key. Unlike H3/S2 the grid is equirectangular (it need not be
equal-area — it only has to be a *consistent, hierarchical, data-independent*
bucketing; correctness always comes from the exact refine step, cf. the
reference's envelope-prefilter + exact-predicate two-phase judgement,
``core/joinJudgement/JudgementBase.java:202-286``).

Layout of a cell id (fits in a positive int64):

    bits 54..58  level L (0..26)
    bits 27..52  x index (0 .. 2^L-1), lon in [-180, 180)
    bits  0..25  y index (0 .. 2^L-1), lat in [-90, 90]

Everything here is implemented three ways with identical semantics:

* :func:`cell_id` etc. — pure Spark ``Column`` arithmetic (JVM-side,
  whole-stage codegen; the hot path has **zero Python**);
* ``np_*`` — vectorized numpy mirrors for use inside pandas UDFs;
* ``sql_*`` — ANSI-SQL text generators so DuckDB oracles can reproduce the
  exact same ids (integer arithmetic is engine-portable).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LEVEL = 26
CELL_L_SHIFT = 54
CELL_X_SHIFT = 27
_L_MULT = 1 << CELL_L_SHIFT
_X_MULT = 1 << CELL_X_SHIFT

LON_MIN, LON_SPAN = -180.0, 360.0
LAT_MIN, LAT_SPAN = -90.0, 180.0


def cell_width(level: int) -> float:
    """Cell width in degrees of longitude at ``level``."""
    return LON_SPAN / (1 << level)


def cell_height(level: int) -> float:
    """Cell height in degrees of latitude at ``level``."""
    return LAT_SPAN / (1 << level)


def level_for_extent(extent_deg: float, max_cells_per_side: int = 4) -> int:
    """Pick the coarsest level at which a geometry of the given extent
    covers at most ``max_cells_per_side`` cells per axis.

    Replaces the reference's sampled-tree partition sizing
    (``SpatialRDD.java:246-325``) with a closed-form, data-independent rule:
    at 100 TB nothing is collected to the driver to decide layout.
    """
    if extent_deg <= 0:
        return MAX_LEVEL
    level = int(math.floor(math.log2(LAT_SPAN * max_cells_per_side / extent_deg)))
    return max(0, min(MAX_LEVEL, level))


# ---------------------------------------------------------------------------
# Column API (JVM-side, codegen)
# ---------------------------------------------------------------------------


def _grid_x(lon: Column, level: int) -> Column:
    n = 1 << level
    raw = F.floor((lon - F.lit(LON_MIN)) / F.lit(LON_SPAN) * F.lit(float(n)))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), raw)).cast("long")


def _grid_y(lat: Column, level: int) -> Column:
    n = 1 << level
    raw = F.floor((lat - F.lit(LAT_MIN)) / F.lit(LAT_SPAN) * F.lit(float(n)))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), raw)).cast("long")


def cell_of(x_idx: Column, y_idx: Column, level: int) -> Column:
    """Pack grid indices into a cell id (pure integer arithmetic)."""
    return (F.lit(level * _L_MULT) + x_idx * F.lit(_X_MULT) + y_idx).cast("long")


def cell_id(lon: Column, lat: Column, level: int) -> Column:
    """Point → cell id. Pure Column math; codegen'd JVM-side."""
    return cell_of(_grid_x(lon, level), _grid_y(lat, level), level)


def cell_x(cell: Column) -> Column:
    return ((cell % F.lit(_L_MULT)) / F.lit(_X_MULT)).cast("long")


def cell_y(cell: Column) -> Column:
    return (cell % F.lit(_X_MULT)).cast("long")


def cell_level(cell: Column) -> Column:
    return (cell / F.lit(_L_MULT)).cast("long")


def cell_parent(cell: Column, level: int, parent_level: int) -> Column:
    """Coarsen a cell id; the analog of taking an H3 parent. Used as the
    shuffle/partition prefix key (north_rule "cell-prefix hash-partitioned
    joins")."""
    d = level - parent_level
    if d < 0:
        raise ValueError("parent_level must be <= level")
    px = F.floor(cell_x(cell) / F.lit(1 << d)).cast("long")
    py = F.floor(cell_y(cell) / F.lit(1 << d)).cast("long")
    return cell_of(px, py, parent_level)


def cover_bbox(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, level: int
) -> tuple[Column, Column, Column, Column]:
    """Grid-index ranges (gx0, gx1, gy0, gy1) of the cells covering an
    envelope. Explode with::

        df.withColumn("cx", F.explode(F.sequence(gx0, gx1)))
          .withColumn("cy", F.explode(F.sequence(gy0, gy1)))
          .withColumn("cell", cell_of(F.col("cx"), F.col("cy"), level))

    This is the replicate-to-overlapping-cells placement of the reference
    (``EqualPartitioning.placeObject``, ``EqualPartitioning.java:98-124``)
    as a pure Column pipeline.
    """
    return (
        _grid_x(xmin, level),
        _grid_x(xmax, level),
        _grid_y(ymin, level),
        _grid_y(ymax, level),
    )


def grid_disk_cells(cell: Column, level: int, kx: int, ky: int) -> tuple[Column, Column]:
    """Grid-index ranges for the (2kx+1)×(2ky+1) Chebyshev disk around a
    cell, clamped to the grid — the analog of ``ST_H3KRing``
    (``Functions.java:1773-1779``). Returns (xs, ys) sequence Columns to
    explode."""
    n = 1 << level
    cx, cy = cell_x(cell), cell_y(cell)
    xs = F.sequence(F.greatest(F.lit(0), cx - kx), F.least(F.lit(n - 1), cx + kx))
    ys = F.sequence(F.greatest(F.lit(0), cy - ky), F.least(F.lit(n - 1), cy + ky))
    return xs, ys


def disk_radii_for_distance(r: float, level: int) -> tuple[int, int]:
    """Cell radii (kx, ky) so that disk(kx, ky) around a point's cell
    contains every point within planar distance ``r`` — the cell-grid
    analog of the reference's envelope-expansion distance-join rewrite
    (``DistanceJoinExec.scala:30-42``)."""
    return (
        int(math.ceil(r / cell_width(level))),
        int(math.ceil(r / cell_height(level))),
    )


# ---------------------------------------------------------------------------
# numpy mirrors (for pandas UDF internals)
# ---------------------------------------------------------------------------


def np_grid_x(lon: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    raw = np.floor((lon - LON_MIN) / LON_SPAN * float(n)).astype(np.int64)
    return np.clip(raw, 0, n - 1)


def np_grid_y(lat: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    raw = np.floor((lat - LAT_MIN) / LAT_SPAN * float(n)).astype(np.int64)
    return np.clip(raw, 0, n - 1)


def np_cell_id(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    return (
        np.int64(level) * np.int64(_L_MULT)
        + np_grid_x(lon, level) * np.int64(_X_MULT)
        + np_grid_y(lat, level)
    )


def np_cell_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Grid indices (x, y) of packed cell ids — mirror of cell_x/cell_y."""
    return (cell % _L_MULT) // _X_MULT, cell % _X_MULT


# ---------------------------------------------------------------------------
# SQL-text mirrors (for DuckDB oracles; plain integer arithmetic)
# ---------------------------------------------------------------------------


def sql_grid_x(lon_expr: str, level: int) -> str:
    # e-notation literals: parsed as DOUBLE by both Spark and DuckDB
    # (plain `360.0` is DECIMAL in Spark SQL → different rounding!)
    n = 1 << level
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor(({lon_expr} - (-180e0)) / 360e0 * {n}e0) as bigint)))"
    )


def sql_grid_y(lat_expr: str, level: int) -> str:
    n = 1 << level
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor(({lat_expr} - (-90e0)) / 180e0 * {n}e0) as bigint)))"
    )


def sql_cell_id(lon_expr: str, lat_expr: str, level: int) -> str:
    return (
        f"(cast({level * _L_MULT} as bigint)"
        f" + {sql_grid_x(lon_expr, level)} * cast({_X_MULT} as bigint)"
        f" + {sql_grid_y(lat_expr, level)})"
    )


# ---------------------------------------------------------------------------
# Hilbert-curve cell option (r5): locality-preserving alternative to the
# row-major (gx, gy) key for range partitioning / file ordering — the
# curve order used by GeoParquet/Iceberg spatial sorting. Pure Column bit
# arithmetic (one unrolled iteration per level, whole-stage codegen'd,
# no Python), with a chained-CTE SQL twin for engine-mirrored oracles.
# Algorithm: the standard xy2d walk (rx/ry quadrant bits + rotate), see
# Hamilton, "Compact Hilbert Indices" / the classic Wikipedia formulation.
# ---------------------------------------------------------------------------


def hilbert_from_grid(gx: Column, gy: Column, level: int) -> Column:
    """Hilbert distance d of grid cell (gx, gy) on the 2^level × 2^level
    curve — Column-only: ``level`` unrolled iterations of the xy2d walk,
    each a constant-size CASE, so the whole key stays JVM-side."""
    x, y = gx.cast("long"), gy.cast("long")
    d = F.lit(0).cast("long")
    s = 1 << (level - 1)
    while s > 0:
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        d = d + F.lit(s * s).cast("long") * (
            (F.lit(3) * rx).bitwiseXOR(ry).cast("long")
        )
        # rotate the quadrant frame: ry=1 keeps (x,y); ry=0 swaps, with a
        # flip when rx=1
        nx = (
            F.when(ry == 1, x)
            .when(rx == 0, y)
            .otherwise(F.lit(s - 1) - y)
        )
        ny = (
            F.when(ry == 1, y)
            .when(rx == 0, x)
            .otherwise(F.lit(s - 1) - x)
        )
        x, y = nx, ny
        s >>= 1
    return d


def hilbert_cell_id(lon: Column, lat: Column, level: int) -> Column:
    """Point → Hilbert cell id: ``level * L_MULT + d``. Drop-in for
    :func:`cell_id` wherever range partitioning should preserve spatial
    locality (adjacent curve positions are adjacent cells, so contiguous
    id ranges are compact regions — better file/partition pruning than
    row-major for bbox queries)."""
    d = hilbert_from_grid(_grid_x(lon, level), _grid_y(lat, level), level)
    return (F.lit(level * _L_MULT) + d).cast("long")


def hilbert_np(gx, gy, level: int):
    """Vectorized numpy twin of :func:`hilbert_from_grid` (tests)."""
    import numpy as np

    x = np.asarray(gx, dtype=np.int64).copy()
    y = np.asarray(gy, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = 1 << (level - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        swap = ry == 0
        fx = np.where(flip, s - 1 - x, x)
        fy = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, fy, fx), np.where(swap, fx, fy)
        s >>= 1
    return d


def sql_hilbert_ctes(base: str, level: int, keep: str = "") -> str:
    """Chained-CTE SQL text computing the Hilbert distance ``hd`` from a
    relation ``base`` exposing integer columns (hx, hy) — the DuckDB
    oracle twin of :func:`hilbert_from_grid` (one CTE per unrolled
    iteration; nesting the CASEs instead would grow 3^level).
    ``keep`` = extra passthrough columns, e.g. ", event_id"."""
    parts = [f"hh0 as (select hx, hy, 0 as hd{keep} from {base})"]
    k = 0
    s = 1 << (level - 1)
    while s > 0:
        p, k = f"hh{k}", k + 1
        rx = f"(case when (hx & {s}) > 0 then 1 else 0 end)"
        ry = f"(case when (hy & {s}) > 0 then 1 else 0 end)"
        parts.append(
            f"hh{k} as (select "
            f"case when {ry} = 1 then hx when {rx} = 0 then hy "
            f"else {s - 1} - hy end as hx, "
            f"case when {ry} = 1 then hy when {rx} = 0 then hx "
            f"else {s - 1} - hx end as hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) as hd{keep} from {p})"
        )
        s >>= 1
    return ", ".join(parts) + f" select * from hh{k}"


# ---------------------------------------------------------------------------
# Hexagonal cell option (r5c) — a true H3-analog binning: flat-top hex
# grid in axial (q, r) coordinates with exact cube rounding. The square
# grid above is the join workhorse; hex cells give the uniform-neighbor
# aggregation shape H3 is used for (each cell has 6 equidistant
# neighbors, ~13% lower perimeter/area than squares). Reference
# capability: the S2/H3 cell-function family (Catalog.scala ST_H3* /
# ST_S2* seam). Everything below is pure Column arithmetic (whole-stage
# codegen) with numpy + DuckDB twins; the rounding is written as
# floor(x + 0.5) in BOTH engines so results are bit-identical.
# ---------------------------------------------------------------------------

_HEX_OFF = 1 << 20  # axial offset so packed ids stay positive


def _hex_round_terms(xe: str, ye: str, size: float):
    """Shared text form of flat-top axial coords + cube rounding — one
    source of truth rendered into Column exprs AND DuckDB SQL."""
    s = float(size)
    q = f"((2.0e0 / 3e0) * ({xe}) / {s!r})"
    r = f"((-1.0e0 / 3e0) * ({xe}) / {s!r} + (sqrt(3e0) / 3e0) * ({ye}) / {s!r})"
    y = f"(-({q}) - ({r}))"
    rq = f"floor({q} + 0.5e0)"
    rr = f"floor({r} + 0.5e0)"
    ry = f"floor({y} + 0.5e0)"
    dq = f"abs({rq} - {q})"
    dr = f"abs({rr} - {r})"
    dy = f"abs({ry} - {y})"
    fq = (f"(case when {dq} > {dr} and {dq} > {dy} "
          f"then -({ry}) - ({rr}) else {rq} end)")
    fr = (f"(case when not ({dq} > {dr} and {dq} > {dy}) and {dr} > {dy} "
          f"then -({fq}) - ({ry}) else {rr} end)")
    return fq, fr


def hex_cell_id(x_expr: str, y_expr: str, size: float) -> Column:
    """Packed hex cell id of a point (flat-top, circumradius ``size``).
    Takes SQL expression strings (column names or arithmetic) — the body
    is the SAME text the DuckDB twin renders, so both engines compute
    bit-identical ids."""
    return F.expr(sql_hex_cell_id(x_expr, y_expr, size))


def hex_cell_center(cell: Column, size: float) -> tuple[Column, Column]:
    """Inverse: packed id -> hex center (flat-top axial to cartesian)."""
    s = float(size)
    q = (cell / (2 * _HEX_OFF)).cast("bigint") - _HEX_OFF
    r = (cell % (2 * _HEX_OFF)) - _HEX_OFF
    cx = F.lit(s * 1.5) * q
    cy = (F.lit(s * math.sqrt(3.0)) * (r + q / F.lit(2.0)))
    return cx, cy


def sql_hex_cell_id(x_expr: str, y_expr: str, size: float) -> str:
    """DuckDB twin of :func:`hex_cell_id` — identical expression text."""
    fq, fr = _hex_round_terms(x_expr, y_expr, size)
    return (f"(cast({fq} as bigint) + {_HEX_OFF}) * {2 * _HEX_OFF}"
            f" + (cast({fr} as bigint) + {_HEX_OFF})")


def np_hex_cell_id(x, y, size: float):
    """Numpy twin (same floor(x+0.5) rounding and tie-fix order)."""
    s = float(size)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    q = (2.0 / 3.0) * x / s
    r = (-1.0 / 3.0) * x / s + (np.sqrt(3.0) / 3.0) * y / s
    yy = -q - r
    rq = np.floor(q + 0.5)
    rr = np.floor(r + 0.5)
    ry = np.floor(yy + 0.5)
    dq, dr, dy = np.abs(rq - q), np.abs(rr - r), np.abs(ry - yy)
    fixq = (dq > dr) & (dq > dy)
    rq = np.where(fixq, -ry - rr, rq)
    fixr = ~fixq & (dr > dy)
    rr = np.where(fixr, -rq - ry, rr)
    return ((rq.astype(np.int64) + _HEX_OFF) * (2 * _HEX_OFF)
            + (rr.astype(np.int64) + _HEX_OFF))


def compact_cells(
    cover: "DataFrame", cell_col: str = "cell", level: int | None = None,
    min_level: int = 0,
):
    """S2 ``CellUnion.Normalize`` analog: repeatedly replace every COMPLETE
    sibling group (all four children of one parent present) with the
    parent cell, from ``level`` down to ``min_level``. Each pass is one
    distinct + one groupBy on the parent id (map-side combine; no driver
    state beyond the loop counter) — the cover of an aligned region
    collapses from O(area) cells to O(perimeter). Input rows carry cell
    ids at a single ``level`` (inferred from the first row if None);
    output is (cell, lvl) with mixed levels."""
    if level is None:
        first = cover.select(cell_col).first()
        if first is None:
            return cover.sparkSession.createDataFrame(
                [], f"{cell_col} long, lvl int")
        level = int(first[0] // _L_MULT)
    cur = (
        cover.select(F.col(cell_col).cast("long").alias(cell_col))
        .distinct()
        .withColumn("lvl", F.lit(level))
    )
    out_frozen = None
    for lv in range(int(level), int(min_level), -1):
        active = cur.filter(F.col("lvl") == lv)
        rest = cur.filter(F.col("lvl") != lv)
        parent = cell_parent(F.col(cell_col), lv, lv - 1)
        groups = (
            active.withColumn("_p", parent)
            .groupBy("_p")
            .agg(F.count("*").alias("_n"),
                 F.collect_list(cell_col).alias("_members"))
        )
        promoted = groups.filter(F.col("_n") == 4).select(
            F.col("_p").alias(cell_col), F.lit(lv - 1).alias("lvl")
        )
        kept = groups.filter(F.col("_n") < 4).select(
            F.explode("_members").alias(cell_col), F.lit(lv).alias("lvl")
        )
        frozen = kept if out_frozen is None else out_frozen.unionByName(
            kept)
        out_frozen = frozen
        cur = promoted
        # bound lineage growth across the (≤30) level passes
        cur = cur.localCheckpoint(eager=False)
    result = cur if out_frozen is None else cur.unionByName(out_frozen)
    return result
