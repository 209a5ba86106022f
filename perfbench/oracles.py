"""Independent correctness oracles (numpy and DuckDB, no Spark).

Each oracle recomputes a workload's answer from the generated inputs by a
different method than the engine uses, once per seed and outside the timed
region. The ``check_*`` functions compare an engine result with the cached
answer and return a list of mismatch descriptions (empty when correct).
"""

from __future__ import annotations

import numpy as np

# --- tile_join / pipeline_write ------------------------------------------------


def tile_centers(lon, lat, w, h, tile: int) -> tuple[np.ndarray, np.ndarray]:
    """Geographic centre of every tile of every image, with the same double
    arithmetic, in the same order, as the tile→cell step of the job."""
    lon, lat = np.asarray(lon, float), np.asarray(lat, float)
    w, h = np.asarray(w, np.int64), np.asarray(h, np.int64)
    out_x, out_y = [], []
    for sw, sh in sorted(set(zip(w.tolist(), h.tolist()))):
        sel = (w == sw) & (h == sh)
        tx = np.arange(-(-sw // tile))
        ty = np.arange(-(-sh // tile))
        tw = np.minimum(tile, sw - tx * tile)
        th = np.minimum(tile, sh - ty * tile)
        cx = (tx * tile + tw / 2.0) / sw          # per tile column
        cy = (ty * tile + th / 2.0) / sh          # per tile row
        gx = np.tile(cx, len(ty))                 # row-major grid
        gy = np.repeat(cy, len(tx))
        out_x.append((lon[sel][:, None] + gx[None, :] * 0.05).ravel())
        out_y.append((lat[sel][:, None] - gy[None, :] * 0.05).ravel())
    return np.concatenate(out_x), np.concatenate(out_y)


def tile_zone_counts(lon, lat, w, h, zones: dict, tile: int) -> dict[int, int]:
    """Per-zone count of tile centres inside each (closed) rectangle."""
    x, y = tile_centers(lon, lat, w, h, tile)
    order = np.argsort(x)
    xs, ys = x[order], y[order]
    counts = {}
    for z, x0, y0, x1, y1 in zip(zones["zone_id"], zones["xmin"], zones["ymin"],
                                 zones["xmax"], zones["ymax"]):
        lo, hi = np.searchsorted(xs, x0, "left"), np.searchsorted(xs, x1, "right")
        yy = ys[lo:hi]
        c = int(np.count_nonzero((yy >= y0) & (yy <= y1)))
        if c:
            counts[int(z)] = c
    return counts


# --- vector_join ------------------------------------------------------------------


def point_in_ring(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of points against one open packed ring."""
    vx, vy = ring[0::2], ring[1::2]
    inside = np.zeros(len(px), bool)
    j = len(vx) - 1
    for i in range(len(vx)):
        xi, yi, xj, yj = vx[i], vy[i], vx[j], vy[j]
        crosses = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < xcross)
        j = i
    return inside


def pip_zone_counts(px, py, rings) -> dict[int, int]:
    """Per-zone count of points inside each polygon (bbox prefilter, then
    the ray cast on the survivors)."""
    px, py = np.asarray(px, float), np.asarray(py, float)
    order = np.argsort(px)
    xs, ys = px[order], py[order]
    counts = {}
    for z, ring in enumerate(rings):
        ring = np.asarray(ring, float)
        x0, x1 = ring[0::2].min(), ring[0::2].max()
        y0, y1 = ring[1::2].min(), ring[1::2].max()
        lo, hi = np.searchsorted(xs, x0, "left"), np.searchsorted(xs, x1, "right")
        cx, cy = xs[lo:hi], ys[lo:hi]
        m = (cy >= y0) & (cy <= y1)
        c = int(np.count_nonzero(point_in_ring(ring, cx[m], cy[m])))
        if c:
            counts[z] = c
    return counts


# pair checksum shared by the engine query and the DuckDB oracle
PAIR_MUL = 1_000_003
PAIR_MOD = 1_000_000_007


def distance_pairs(probe_dir: str, build_dir: str, r: float) -> dict:
    """Pairs within planar distance ``r`` by a DuckDB grid band join: both
    sides bucketed on an r-sized grid, each probe meets the 3×3 block of
    buckets around its own. Returns the pair count and an id checksum."""
    import duckdb

    con = duckdb.connect()
    try:
        row = con.execute(f"""
            with p as (select pid, x, y, floor(x / $r)::bigint as gx,
                              floor(y / $r)::bigint as gy
                       from read_parquet('{probe_dir}/*.parquet')),
                 b as (select bid, bx, by, floor(bx / $r)::bigint as gx,
                              floor(by / $r)::bigint as gy
                       from read_parquet('{build_dir}/*.parquet')),
                 pe as (select pid, x, y, gx + dx as cx, gy + dy as cy
                        from p, (values (-1), (0), (1)) a(dx),
                             (values (-1), (0), (1)) c(dy))
            select count(*),
                   coalesce(sum((pid * {PAIR_MUL} + bid) % {PAIR_MOD}), 0)
            from pe join b on pe.cx = b.gx and pe.cy = b.gy
            where (x - bx) * (x - bx) + (y - by) * (y - by) <= $r * $r
        """, {"r": float(r)}).fetchone()
    finally:
        con.close()
    return {"count": int(row[0]), "checksum": int(row[1])}


def knn_brute(qx, qy, ox, oy, sample, k: int) -> dict[int, list[int]]:
    """Exact k nearest object ids for each sampled query, by brute force."""
    qx, qy, ox, oy = (np.asarray(a, float) for a in (qx, qy, ox, oy))
    out = {}
    for q in np.asarray(sample, np.int64):
        dx = qx[q] - ox
        dy = qy[q] - oy
        d2 = dx * dx + dy * dy
        nn = np.lexsort((np.arange(len(d2)), d2))[:k]
        out[int(q)] = sorted(int(i) for i in nn)
    return out


# --- checks -------------------------------------------------------------------------


def check_counts(name: str, got: dict, want: dict) -> list[str]:
    """Compare two {key: count} maps; keys may be ints or strings."""
    g = {str(k): int(v) for k, v in got.items() if int(v)}
    w = {str(k): int(v) for k, v in want.items() if int(v)}
    if g == w:
        return []
    diff = sorted(set(g) ^ set(w)) + sorted(k for k in set(g) & set(w) if g[k] != w[k])
    return [f"{name}: {len(diff)} keys differ (e.g. {diff[:3]}), "
            f"total {sum(g.values())} vs {sum(w.values())}"]


def check_pairs(got: dict, want: dict) -> list[str]:
    if int(got["count"]) == want["count"] and int(got["checksum"]) == want["checksum"]:
        return []
    return [f"distance_join: {got} vs {want}"]


def check_knn(rows: dict[int, list[int]], n_rows: int, expected: dict) -> list[str]:
    """``rows`` maps sampled query id → neighbour ids from the engine;
    ``n_rows`` is the engine's total output row count."""
    errs = []
    k, nq = expected["knn_k"], expected["knn_queries"]
    if n_rows != k * nq:
        errs.append(f"knn_join: {n_rows} rows, want {k * nq}")
    bad = [q for q, nn in expected["knn_sample"].items()
           if sorted(rows.get(int(q), [])) != nn]
    if bad:
        errs.append(f"knn_join: {len(bad)} sampled queries differ (e.g. {bad[:3]})")
    return errs
