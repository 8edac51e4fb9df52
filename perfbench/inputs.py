"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy/pyarrow: the engine under test never
touches input generation, and the program only ever receives the
generated parquet tables.  The same ``(seed, params)`` always yields
byte-identical tables, which are cached on local disk under
``perfbench/.cache`` so repeated runs of one seed skip generation.

Alongside each table the generator keeps the ground truth the oracles
need (the exact coordinates it wrote, which pages carry a usable tag,
the loop vertices), as ``.npz`` next to the parquet files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
# Generated inputs kept on disk; older entries are pruned (least recently
# used first) so a long sweep over many seeds cannot fill the disk.
CACHE_KEEP = 6
PARQUET_FILES = 16

# Hot-city centres (lat, lng) in degrees: the dense urban clusters that
# make S2 cells Zipf-hot and give the city layer its hit rate.
CITIES = np.array(
    [
        (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503),
        (48.8566, 2.3522), (-23.5505, -46.6333), (19.4326, -99.1332),
        (28.6139, 77.2090), (31.2304, 121.4737), (-33.8688, 151.2093),
        (55.7558, 37.6173), (30.0444, 31.2357), (-1.2921, 36.8219),
        (37.7749, -122.4194), (52.5200, 13.4050), (1.3521, 103.8198),
        (34.0522, -118.2437), (41.0082, 28.9784), (-34.6037, -58.3816),
        (6.5244, 3.3792), (13.7563, 100.5018),
    ],
    dtype=np.float64,
)

_FILLER = (
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua. "
)


@dataclass(frozen=True)
class PagesSpec:
    n_pages: int
    geo_share: float  # pages with a geo.position tag (plus an ICBM tag)
    icbm_share: float  # pages with only an ICBM tag (second regex pass)
    # the rest carry no tag
    hot_share: float  # tagged coordinates clustered on hot cities
    short_body: int  # characters of html body of a short page
    long_body: int  # characters of html body of a long page
    long_share: float  # pages with the long body
    hot_sigma_deg: float = 0.05


@dataclass(frozen=True)
class LoopsSpec:
    """Loops whose edge runs through a hot city: each centre sits one
    radius from its city, so about half the city's cluster falls inside
    and the points near the edge reach the exact refine."""

    n_loops: int = 50
    min_radius_deg: float = 0.3
    max_radius_deg: float = 2.0
    min_verts: int = 8
    max_verts: int = 64


@dataclass(frozen=True)
class PointsSpec:
    n: int
    hot_share: float
    hot_sigma_deg: float = 0.05


# ---------------------------------------------------------------------------
# coordinate streams
# ---------------------------------------------------------------------------


def _sphere_points(
    rng: np.random.Generator, n: int, hot_share: float, sigma_deg: float
) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lng) degrees: ``hot_share`` Gaussian around the cities, the
    rest uniform on the sphere."""
    hot = rng.random(n) < hot_share
    city = rng.integers(0, len(CITIES), n)
    g = rng.standard_normal((n, 2)) * sigma_deg
    u = rng.random((n, 2))
    lat = np.where(
        hot, CITIES[city, 0] + g[:, 0], np.degrees(np.arcsin(2.0 * u[:, 0] - 1.0))
    )
    lng = np.where(hot, CITIES[city, 1] + g[:, 1], 360.0 * u[:, 1] - 180.0)
    lat = np.clip(lat, -90.0, 90.0)
    lng = (lng + 180.0) % 360.0 - 180.0
    return lat, lng


def _to_e7(lat: np.ndarray, lng: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Quantize to 1e-7 degrees (what the html carries, digit for digit)."""
    lat7 = np.clip(np.rint(lat * 1e7), -900_000_000, 900_000_000).astype(np.int64)
    lng7 = np.clip(np.rint(lng * 1e7), -1_800_000_000, 1_800_000_000).astype(np.int64)
    return lat7, lng7


def _fmt_e7(v: np.ndarray) -> pa.Array:
    """Fixed-point decimal strings ``-12.3456789`` of int64 1e-7 units —
    never scientific notation, so the engine's regex always matches."""
    a = np.abs(v)
    sign = pa.array(np.where(v < 0, "-", ""))
    ip = pc.cast(pa.array(a // 10_000_000), pa.string())
    fp = pc.utf8_lpad(pc.cast(pa.array(a % 10_000_000), pa.string()), 7, "0")
    return pc.binary_join_element_wise(sign, ip, ".", fp, "")


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------


def pages_table(spec: PagesSpec, seed: int) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """Pages (url, html) and the truth: coordinates as the engine must
    parse them and the mask of pages whose tag it must find."""
    rng = np.random.default_rng([seed, 1])
    n = spec.n_pages
    lat, lng = _sphere_points(rng, n, spec.hot_share, spec.hot_sigma_deg)
    lat7, lng7 = _to_e7(lat, lng)
    u = rng.random(n)
    geo = u < spec.geo_share
    icbm = ~geo & (u < spec.geo_share + spec.icbm_share)
    s_lat, s_lng = _fmt_e7(lat7), _fmt_e7(lng7)

    def tag(mask: np.ndarray, name: str, sep: str) -> pa.Array:
        t = pc.binary_join_element_wise(
            f'<meta name="{name}" content="', s_lat, sep, s_lng, '">', ""
        )
        return pc.if_else(pa.array(mask), t, "")

    ids = np.arange(n, dtype=np.int64)
    s_id = pc.cast(pa.array(ids), pa.string())
    filler = _FILLER * (spec.long_body // len(_FILLER) + 1)
    body = pc.if_else(
        pa.array(rng.random(n) < spec.long_share),
        filler[: spec.long_body],
        filler[: spec.short_body],
    )
    html = pc.binary_join_element_wise(
        "<html><head><title>page ",
        s_id,
        "</title>",
        tag(geo, "geo.position", ";"),
        tag(geo | icbm, "ICBM", ", "),
        "</head><body>",
        body,
        "</body></html>",
        "",
    )
    url = pc.binary_join_element_wise("https://bench.example/p/", s_id, "")
    table = pa.table({"url": url, "html": pc.cast(html, pa.binary())})
    truth = {
        "lat": lat7 / 1e7,
        "lng": lng7 / 1e7,
        "tagged": geo | icbm,
    }
    return table, truth


def loop_vertices(spec: LoopsSpec, seed: int) -> list[np.ndarray]:
    """Regular CCW loops, (m,3) unit vectors each, whose edge passes
    through a hot city.

    Radii and vertex counts follow a fixed low-discrepancy pattern; the
    seed moves only the direction from the city to the centre and the
    vertex phase, so every seed joins about the same share of points.
    Convex, so the oracle's all-edges-left test is exact."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(spec.n_loops):
        u = (i * 0.6180339887) % 1.0
        r = np.radians(spec.min_radius_deg + u * (spec.max_radius_deg - spec.min_radius_deg))
        m = spec.min_verts + (i * 7) % (spec.max_verts - spec.min_verts + 1)
        city = _unit(*np.radians(CITIES[i % len(CITIES)]))
        east, north = _tangents(city)
        bearing = 2 * np.pi * rng.random()
        c = np.cos(r) * city + np.sin(r) * (np.cos(bearing) * east + np.sin(bearing) * north)
        east, north = _tangents(c)
        ang = 2 * np.pi * (np.arange(m) + rng.random()) / m
        v = (
            np.cos(r) * c[None, :]
            + np.sin(r) * np.cos(ang)[:, None] * east[None, :]
            + np.sin(r) * np.sin(ang)[:, None] * north[None, :]
        )
        out.append(v / np.linalg.norm(v, axis=1)[:, None])
    return out


def _unit(la: float, ln: float) -> np.ndarray:
    return np.array([np.cos(ln) * np.cos(la), np.sin(ln) * np.cos(la), np.sin(la)])


def _tangents(c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Unit east and north vectors at the unit vector ``c``."""
    east = np.array([-c[1], c[0], 0.0])
    east /= np.linalg.norm(east)
    return east, np.cross(c, east)


def knn_tables(points: PointsSpec, targets: PointsSpec, seed: int):
    """Query points (pid, lat, lng) and targets (tid, lat, lng)."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for spec, key in ((points, "pid"), (targets, "tid")):
        lat, lng = _sphere_points(rng, spec.n, spec.hot_share, spec.hot_sigma_deg)
        ids = np.arange(spec.n, dtype=np.int64)
        out.append(pa.table({key: ids, "lat": lat, "lng": lng}))
    return out


# ---------------------------------------------------------------------------
# disk cache
# ---------------------------------------------------------------------------


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    n = table.num_rows
    step = -(-n // PARQUET_FILES)
    for k, lo in enumerate(range(0, n, step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{k:03d}.parquet"))


def _prune(keep: str) -> None:
    entries = [
        os.path.join(CACHE_DIR, e)
        for e in os.listdir(CACHE_DIR)
        if os.path.isdir(os.path.join(CACHE_DIR, e))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[CACHE_KEEP:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)


def cached(kind: str, seed: int, params: dict, build) -> str:
    """Directory holding the generated input for (kind, seed, params);
    ``build(dir)`` fills it on a miss.  Returns the directory."""
    key = hashlib.sha1(
        json.dumps([kind, seed, params], sort_keys=True).encode()
    ).hexdigest()[:12]
    path = os.path.join(CACHE_DIR, f"{kind}-{seed}-{key}")
    done = os.path.join(path, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        os.replace(tmp, path)
    now = time.time()
    os.utime(path, (now, now))
    _prune(path)
    return path


def build_pages(spec: PagesSpec, seed: int) -> str:
    def build(d: str) -> None:
        table, truth = pages_table(spec, seed)
        _write_parquet(table, os.path.join(d, "pages"))
        np.savez(os.path.join(d, "truth.npz"), **truth)

    return cached("pages", seed, spec.__dict__, build)


def build_knn(points: PointsSpec, targets: PointsSpec, seed: int) -> str:
    def build(d: str) -> None:
        for name, table in zip(("points", "targets"), knn_tables(points, targets, seed)):
            _write_parquet(table, os.path.join(d, name))

    params = {"points": points.__dict__, "targets": targets.__dict__}
    return cached("knn", seed, params, build)
