"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64
generator seeded from both, written as parquet with pyarrow (no Spark), so
the engine under test receives only finished files. Inputs are cached per
seed under ``<cache>/<workload>-s<seed>/`` together with the oracle's
expected answers, both made outside the timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracles

# --- sizes -------------------------------------------------------------------
# pipeline_write: image table and rectangle zones
N_IMAGES = 1000
N_RECT_ZONES = 400
IMAGE_DOMAIN = 100.0          # geotags live on [0, 100)²
TILE = 16
# vector_join
N_PIP_POINTS = 200_000
N_STAR_ZONES = 400
N_DIST_POINTS = 60_000        # per side
DIST_R = 0.05
N_KNN_QUERIES = 4_000
N_KNN_OBJECTS = 8_000
KNN_K = 8
KNN_SAMPLE = 400
VEC_LON = (-20.0, 40.0)       # vector domain (degrees)
VEC_LAT = (-10.0, 50.0)
N_FILES = 8                   # parquet files per point table (scan splits)

# image shapes (w, h): three shapes, as in the repo's image fixture
_SHAPES = ((32, 32), (64, 48), (48, 96))


def _rng(workload: str, seed: int, stream: int = 0) -> np.random.Generator:
    key = zlib.crc32(workload.encode())
    return np.random.default_rng([int(seed), key, stream])


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


# --- images ------------------------------------------------------------------


def make_images(rng: np.random.Generator, n: int) -> dict:
    """Seeded image table columns: smooth per-image pixel patterns encoded
    with the engine's lossless codec, shapes mixed, geotags uniform."""
    from sedona_spark.sources.images import encode_image

    shape_idx = rng.integers(0, len(_SHAPES), n)
    phase = rng.integers(0, 251, n)
    freq = rng.integers(1, 13, n)
    lon = rng.uniform(0.0, IMAGE_DOMAIN, n)
    lat = rng.uniform(0.0, IMAGE_DOMAIN, n)
    bases = {}
    for w, h in _SHAPES:
        ys = np.arange(h)[:, None, None]
        xs = np.arange(w)[None, :, None]
        cs = np.arange(3)[None, None, :]
        bases[(w, h)] = (xs * 3 + ys * 5 + cs * 7, xs * ys)
    blobs = []
    ws = np.empty(n, np.int32)
    hs = np.empty(n, np.int32)
    for i in range(n):
        w, h = _SHAPES[shape_idx[i]]
        b1, b2 = bases[(w, h)]
        arr = ((phase[i] + b1) % 251 + (b2 * freq[i]) % 67) % 256
        blobs.append(encode_image(arr.astype(np.uint8), "fpng"))
        ws[i], hs[i] = w, h
    return {
        "image_id": [f"img_{i:08d}" for i in range(n)],
        "bytes": blobs,
        "w": ws,
        "h": hs,
        "fmt": ["fpng"] * n,
        "lon": lon,
        "lat": lat,
    }


def make_rect_zones(rng: np.random.Generator, n: int) -> dict:
    cx = rng.uniform(0.0, IMAGE_DOMAIN, n)
    cy = rng.uniform(0.0, IMAGE_DOMAIN, n)
    hx = rng.uniform(0.5, 4.0, n)
    hy = rng.uniform(0.5, 4.0, n)
    return {
        "zone_id": np.arange(n, dtype=np.int64),
        "xmin": cx - hx, "ymin": cy - hy, "xmax": cx + hx, "ymax": cy + hy,
    }


# --- vector ------------------------------------------------------------------


def clustered_points(rng: np.random.Generator, n: int, n_hot: int = 40,
                     hot_share: float = 0.6) -> tuple[np.ndarray, np.ndarray]:
    """Gaussian hotspots over a uniform background on the vector domain."""
    n_h = int(n * hot_share)
    centers_x = rng.uniform(*VEC_LON, n_hot)
    centers_y = rng.uniform(*VEC_LAT, n_hot)
    sigma = rng.uniform(0.3, 1.0, n_hot)
    which = rng.integers(0, n_hot, n_h)
    hx = centers_x[which] + rng.normal(0.0, 1.0, n_h) * sigma[which]
    hy = centers_y[which] + rng.normal(0.0, 1.0, n_h) * sigma[which]
    ux = rng.uniform(*VEC_LON, n - n_h)
    uy = rng.uniform(*VEC_LAT, n - n_h)
    x = np.clip(np.concatenate([hx, ux]), VEC_LON[0], VEC_LON[1])
    y = np.clip(np.concatenate([hy, uy]), VEC_LAT[0], VEC_LAT[1])
    perm = rng.permutation(n)
    return x[perm], y[perm]


def make_star_zones(rng: np.random.Generator, n: int) -> list[np.ndarray]:
    """Star-shaped polygons (tens of vertices) as open packed rings."""
    rings = []
    for _ in range(n):
        cx = rng.uniform(*VEC_LON)
        cy = rng.uniform(*VEC_LAT)
        nv = int(rng.integers(8, 41))
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, nv))
        rad = rng.uniform(0.5, 2.5) * rng.uniform(0.4, 1.0, nv)
        ring = np.empty(2 * nv)
        ring[0::2] = cx + rad * np.cos(ang)
        ring[1::2] = cy + rad * np.sin(ang)
        rings.append(ring)
    return rings


# --- per-workload bundles ----------------------------------------------------

WORKLOADS = ("vector_join", "pipeline_write")


def _image_bundle(d: str, rng: np.random.Generator, n_images: int) -> dict:
    imgs = make_images(rng, n_images)
    zones = make_rect_zones(rng, N_RECT_ZONES)
    _write(pa.table(imgs), os.path.join(d, "images"), N_FILES)
    _write(pa.table(zones), os.path.join(d, "zones"))
    counts = oracles.tile_zone_counts(imgs["lon"], imgs["lat"], imgs["w"],
                                      imgs["h"], zones, TILE)
    return {
        "n_images": n_images,
        "image_bytes": int(sum(len(b) for b in imgs["bytes"])),
        "zone_counts": {str(k): int(v) for k, v in counts.items()},
    }


def _vector_bundle(d: str, rng: np.random.Generator) -> dict:
    px, py = clustered_points(rng, N_PIP_POINTS)
    rings = make_star_zones(rng, N_STAR_ZONES)
    _write(pa.table({"pid": np.arange(len(px), dtype=np.int64), "x": px, "y": py}),
           os.path.join(d, "pip_points"), N_FILES)
    _write(pa.table({"zone_id": np.arange(len(rings), dtype=np.int64),
                     "ring": [r.tolist() for r in rings]}),
           os.path.join(d, "star_zones"))
    pip = oracles.pip_zone_counts(px, py, rings)

    ax, ay = clustered_points(rng, N_DIST_POINTS)
    bx, by = clustered_points(rng, N_DIST_POINTS)
    ids = np.arange(N_DIST_POINTS, dtype=np.int64)
    _write(pa.table({"pid": ids, "x": ax, "y": ay}),
           os.path.join(d, "dist_probe"), N_FILES)
    _write(pa.table({"bid": ids, "bx": bx, "by": by}),
           os.path.join(d, "dist_build"), N_FILES)
    dist = oracles.distance_pairs(os.path.join(d, "dist_probe"),
                                  os.path.join(d, "dist_build"), DIST_R)

    qx, qy = clustered_points(rng, N_KNN_QUERIES)
    ox, oy = clustered_points(rng, N_KNN_OBJECTS)
    _write(pa.table({"qid": np.arange(N_KNN_QUERIES, dtype=np.int64),
                     "x": qx, "y": qy}), os.path.join(d, "knn_queries"), N_FILES)
    _write(pa.table({"oid": np.arange(N_KNN_OBJECTS, dtype=np.int64),
                     "ox": ox, "oy": oy}), os.path.join(d, "knn_objects"), N_FILES)
    sample = np.sort(rng.choice(N_KNN_QUERIES, KNN_SAMPLE, replace=False))
    knn = oracles.knn_brute(qx, qy, ox, oy, sample, KNN_K)
    return {
        "pip_counts": {str(k): int(v) for k, v in pip.items()},
        "dist_pairs": dist,
        "knn_k": KNN_K,
        "knn_queries": N_KNN_QUERIES,
        "knn_sample": {str(q): nn for q, nn in knn.items()},
    }


def make_nation(rng: np.random.Generator, d: str) -> None:
    """Seeded copy of the 25-row ``nation`` table the catalog statements
    read (keys drive every derived coordinate)."""
    keys = np.sort(rng.choice(100_000, 25, replace=False)).astype(np.int32)
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({
        "n_nationkey": keys,
        "n_name": [f"nation_{k}" for k in keys],
        "n_regionkey": (keys % 5).astype(np.int32),
    }), os.path.join(d, "nation.parquet"))


CACHE_KEEP = 12               # cached (workload, seed) entries kept


def _prune(cache_root: str, keep: str) -> None:
    """Drop the least recently built entries beyond ``CACHE_KEEP``."""
    entries = [os.path.join(cache_root, e) for e in os.listdir(cache_root)]
    entries = sorted((e for e in entries if e != keep), key=os.path.getmtime)
    for e in entries[:max(0, len(entries) + 1 - CACHE_KEEP)]:
        shutil.rmtree(e, ignore_errors=True)


def ensure(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return ``(input_dir, expected)`` for the workload and seed, building
    and caching both on first use. A half-written cache entry is rebuilt."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    d = os.path.join(cache_root, f"{workload}-s{int(seed)}")
    done = os.path.join(d, "expected.json")
    if os.path.exists(done):
        with open(done) as f:
            return d, json.load(f)
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    _prune(cache_root, d)
    rng = _rng(workload, seed)
    if workload == "vector_join":
        expected = _vector_bundle(d, rng)
    else:
        expected = _image_bundle(d, rng, N_IMAGES)
    make_nation(_rng(workload, seed, 1), os.path.join(d, "sf"))
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, done)
    return d, expected
