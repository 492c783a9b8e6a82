"""Seeded benchmark inputs: the sf0.1 pixel world, the metadata-only scene
catalog of the traced query round, and the per-workload streams.

Inputs are generated before any timing starts and cached under the
benchmark's cache directory, keyed by seed and ``synth.SYNTH_VERSION``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from xcube_stac_spark import geom, synth
from xcube_stac_spark.gridspec import GridSpec

SF = "sf0.1"
BANDS = list(synth.PARAMS[SF].bands)
DAYS = [synth.BASE_DATE + dt.timedelta(days=d) for d in range(synth.PARAMS[SF].days)]
#: the flagship cube grid: 128-px tiles, 0.55x the scene resolution
TILE, RES_FACTOR = 128, 0.55
#: tile window (tx0, ty0, ntx, nty) of the full grid the append workload
#: writes: 24 store partitions a day instead of 382, so a run fits several
#: appends while the per-append fixed cost stays what it is
APPEND_WINDOW = (9, 7, 6, 4)

#: bump when the generated query catalog changes
CATALOG_VERSION = 1
CATALOG_ZONES = tuple(range(30, 38))
CATALOG_TILES = 8  # scene tiles per zone along each axis
CATALOG_DAYS = 54
CATALOG_TILE_M = 60_000.0
COLLECTION_B = "syn-l1c"


def world(cache: str) -> str:
    """The sf0.1 synth world (scenes/images/assets), generated once."""
    return synth.generate(SF, out_root=os.path.join(cache, f"world-v{synth.SYNTH_VERSION}"))


def full_grid() -> GridSpec:
    return synth.default_grid(SF, tile=TILE, res_factor=RES_FACTOR)


def append_grid() -> GridSpec:
    """The APPEND_WINDOW tiles of ``full_grid`` as a grid of their own."""
    g = full_grid()
    tx0, ty0, ntx, nty = APPEND_WINDOW
    return dataclasses.replace(
        g, x0=g.x0 + tx0 * g.tile_w * g.res, y0=g.y0 - ty0 * g.tile_h * g.res,
        width=ntx * g.tile_w, height=nty * g.tile_h,
    )


def day_window(day: dt.date) -> tuple[str, str]:
    """UTC time range holding the scenes of solar ``day`` (the world's
    solar offset is 0 h)."""
    return day.isoformat(), (day + dt.timedelta(days=1)).isoformat()


# ---------------------------------------------------------------------------
# streams
# ---------------------------------------------------------------------------


def build_day(seed: int) -> dt.date:
    """The solar day the cube_build workload builds."""
    return DAYS[random.Random(seed).randrange(len(DAYS))]


def append_stream(seed: int) -> list[dict]:
    """One entry per append: the day appended, then the seeded read-back
    (band, an already-committed day, a tile rectangle of the append grid)."""
    rng = random.Random(seed)
    days = DAYS[:]
    rng.shuffle(days)
    _, _, ntx, nty = APPEND_WINDOW
    out = []
    for i, day in enumerate(days):
        tw, th = rng.randint(1, 3), rng.randint(1, 3)
        x, y = rng.randint(0, ntx - tw), rng.randint(0, nty - th)
        out.append({
            "day": day, "read_day": rng.choice(days[: i + 1]),
            "read_band": rng.choice(BANDS), "read_tiles": (x, y, x + tw, y + th),
        })
    return out


QUERY_KINDS = ("search", "select", "join_small", "join_large", "dedup", "knn", "probe")


def query_stream(seed: int, extent: tuple[float, float, float, float], n: int) -> list[dict]:
    """``n`` queries cycling through QUERY_KINDS in a seeded order, with
    seeded regions, time windows and knn points inside ``extent``."""
    rng = random.Random(seed ^ 0x5CE7E)
    xmin, ymin, xmax, ymax = extent
    t_first = synth.BASE_DATE

    def box(lo: float, hi: float, aspect: float = 0.6):
        w = rng.uniform(lo, hi)
        h = min(w * aspect, ymax - ymin)
        x, y = rng.uniform(xmin, xmax - w), rng.uniform(ymin, ymax - h)
        return (round(x, 4), round(y, 4), round(x + w, 4), round(y + h, 4))

    def window(lo: int, hi: int):
        d0 = rng.randrange(CATALOG_DAYS - hi)
        a = t_first + dt.timedelta(days=d0)
        return (a.isoformat(), (a + dt.timedelta(days=rng.randint(lo, hi))).isoformat())

    out = []
    kinds = list(QUERY_KINDS)
    while len(out) < n:
        rng.shuffle(kinds)
        for kind in kinds:
            q = {"kind": kind}
            if kind == "search":
                q.update(bbox=box(1.0, 3.0), time_range=window(5, 30),
                         collections=[synth.COLLECTION],
                         query={"orbit_state": [rng.choice(["ascending", "descending"])]})
            elif kind in ("select", "probe"):
                q.update(bbox=box(1.0, 3.0), time_range=window(5, 30))
            elif kind == "join_small":
                q.update(bbox=box(0.3, 1.2))
            elif kind == "join_large":
                q.update(bbox=box(9.0, 12.0, aspect=0.45))
            elif kind == "dedup":
                q.update(time_range=window(2, 5))
            else:  # knn
                q.update(point=(round(rng.uniform(xmin, xmax), 4), round(rng.uniform(ymin, ymax), 4)),
                         k=rng.randint(5, 20))
            out.append(q)
    return out[:n]


# ---------------------------------------------------------------------------
# the scene_queries catalog
# ---------------------------------------------------------------------------


def _footprints(zone: int, e0: np.ndarray, n0: np.ndarray, t: float):
    """9-point lon/lat rings (corners + edge midpoints, as synth.footprint_ring)
    of the UTM squares with south-west corners (e0, n0) and side ``t``."""
    fx = np.array([0.0, 0.5, 1.0, 1.0, 1.0, 0.5, 0.0, 0.0, 0.0])
    fy = np.array([0.0, 0.0, 0.0, 0.5, 1.0, 1.0, 1.0, 0.5, 0.0])
    es = e0[:, None] + fx[None, :] * t
    ns = n0[:, None] + fy[None, :] * t
    lon, lat = geom.tm_inverse(es.ravel(), ns.ravel(), zone)
    return lon.reshape(es.shape), lat.reshape(es.shape)


def _scene_rows(seed: int) -> dict[str, list]:
    """Column lists of the query catalog: every (day, zone, tile) gets a
    scene; the synth.generate edge-case mix rides along (newer-version
    duplicates, same-day second acquisitions, interval-only datetimes, a
    wrong-hemisphere EPSG, antimeridian-bug bboxes), plus a second
    collection and late overpasses whose solar day is the next UTC day."""
    rng = np.random.default_rng(seed)
    nt = CATALOG_TILES
    n0 = 5_150_000.0 + float(rng.uniform(-100_000.0, 100_000.0))
    cols: dict[str, list] = {k: [] for k in (
        "item_id", "collection", "datetime", "start_datetime", "end_datetime",
        "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax", "lon", "lat",
        "tile_id", "zone", "proj_code", "proc_version", "orbit_state",
        "scene_x0", "scene_y0")}
    tx, ty = np.meshgrid(np.arange(nt), np.arange(nt), indexing="ij")
    tx, ty = tx.ravel(), ty.ravel()
    for zone in CATALOG_ZONES:
        e0 = 500_000.0 - nt * CATALOG_TILE_M / 2 + tx * CATALOG_TILE_M
        s0 = n0 + ty * CATALOG_TILE_M
        lon, lat = _footprints(zone, e0, s0, CATALOG_TILE_M)
        bbox = np.stack([lon.min(1), lat.min(1), lon.max(1), lat.max(1)], 1)
        hour = 22 if zone >= 35 else 10
        jitter = rng.integers(0, 50, size=(CATALOG_DAYS, nt * nt))
        l1c = rng.random((CATALOG_DAYS, nt * nt)) < 0.1
        for day in range(CATALOG_DAYS):
            date = synth.BASE_DATE + dt.timedelta(days=day)
            for i in range(nt * nt):
                s = int(tx[i] + ty[i]) + day
                tile_id = f"T{zone}{tx[i]:02d}{ty[i]:02d}"
                variants = [("05.00", False)]
                if s % 5 == 0:
                    variants.append(("05.11", False))
                if s % 4 == 0:
                    variants.append(("05.00", True))
                for proc, second in variants:
                    t = dt.datetime(date.year, date.month, date.day, hour, 5 + int(jitter[day, i]) // 2,
                                    int(jitter[day, i]), tzinfo=dt.timezone.utc)
                    if second:
                        t += dt.timedelta(minutes=7)
                    interval = s % 7 == 3 and not second
                    buggy = day % 45 == 7 and i == 0 and not second
                    wrong_hemi = day % 30 == 0 and i == 1
                    item = f"S2{'B' if second else 'A'}_{tile_id}_{date:%Y%m%d}_{proc.replace('.', '')}"
                    for b in ([False, True] if buggy else [False]):
                        cols["item_id"].append(item + ("_XAM" if b else ""))
                        cols["collection"].append(COLLECTION_B if l1c[day, i] else synth.COLLECTION)
                        cols["datetime"].append(None if interval else t)
                        cols["start_datetime"].append(t - dt.timedelta(minutes=5) if interval else None)
                        cols["end_datetime"].append(t + dt.timedelta(minutes=5) if interval else None)
                        cols["bbox_xmin"].append(float(bbox[i, 0]) - (25.0 if b else 0.0))
                        cols["bbox_ymin"].append(float(bbox[i, 1]))
                        cols["bbox_xmax"].append(float(bbox[i, 2]))
                        cols["bbox_ymax"].append(float(bbox[i, 3]))
                        cols["lon"].append(lon[i])
                        cols["lat"].append(lat[i])
                        cols["tile_id"].append(tile_id)
                        cols["zone"].append(zone)
                        cols["proj_code"].append(f"EPSG:{(32700 if wrong_hemi else 32600) + zone}")
                        cols["proc_version"].append(proc)
                        cols["orbit_state"].append("descending" if day % 2 == 0 else "ascending")
                        cols["scene_x0"].append(float(e0[i]))
                        cols["scene_y0"].append(float(s0[i] + CATALOG_TILE_M))
    return cols


def _catalog_table(seed: int) -> pa.Table:
    cols = _scene_rows(seed)
    n = len(cols["item_id"])
    ring_len = len(cols["lon"][0])
    lon = np.concatenate(cols.pop("lon"))
    lat = np.concatenate(cols.pop("lat"))
    footprint = pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * ring_len),
        pa.StructArray.from_arrays([pa.array(lon), pa.array(lat)], names=["lon", "lat"]),
    )
    ts = pa.timestamp("us", tz="UTC")
    f64 = pa.float64()
    arrays = {
        "item_id": pa.array(cols["item_id"], pa.string()),
        "collection": pa.array(cols["collection"], pa.string()),
        "datetime": pa.array(cols["datetime"], ts),
        "start_datetime": pa.array(cols["start_datetime"], ts),
        "end_datetime": pa.array(cols["end_datetime"], ts),
        "bbox_xmin": pa.array(cols["bbox_xmin"], f64),
        "bbox_ymin": pa.array(cols["bbox_ymin"], f64),
        "bbox_xmax": pa.array(cols["bbox_xmax"], f64),
        "bbox_ymax": pa.array(cols["bbox_ymax"], f64),
        "footprint": footprint,
        "tile_id": pa.array(cols["tile_id"], pa.string()),
        "zone": pa.array(cols["zone"], pa.int32()),
        "proj_code": pa.array(cols["proj_code"], pa.string()),
        "proc_version": pa.array(cols["proc_version"], pa.string()),
        "orbit_state": pa.array(cols["orbit_state"], pa.string()),
        "scene_x0": pa.array(cols["scene_x0"], f64),
        "scene_y0": pa.array(cols["scene_y0"], f64),
        "scene_res": pa.array(np.full(n, 100.0)),
        "nodata": pa.array(np.full(n, synth.NODATA)),
        "scale": pa.array(np.full(n, synth.SCALE)),
        "offset": pa.array(np.full(n, synth.OFFSET)),
    }
    return pa.table(arrays)


def query_catalog(cache: str, seed: int) -> str:
    """Directory holding ``scenes.parquet`` of the seeded query catalog."""
    d = os.path.join(cache, f"catalog-s{seed}-v{synth.SYNTH_VERSION}.{CATALOG_VERSION}")
    path = os.path.join(d, "scenes.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        pq.write_table(_catalog_table(seed), tmp, row_group_size=16_384)
        os.replace(tmp, path)
    return d
