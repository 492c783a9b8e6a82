"""NumPy reference answers for the ``scene_queries`` workload.

Written independently of the engine's Spark expressions: each function
filters the columns of the generated catalog held as NumPy arrays. Used
only to check results, outside the timed section.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow.parquet as pq

_US_PER_DAY = 86_400_000_000
_EPOCH = dt.date(1970, 1, 1)


class Catalog:
    """The scene columns the reference filters need, as NumPy arrays
    (timestamps as int64 microseconds, NaT-free with a validity mask)."""

    def __init__(self, table):
        def col(name):
            return table.column(name).to_numpy(zero_copy_only=False)

        self.item_id = col("item_id").astype(object)
        self.tile_id = col("tile_id").astype(object)
        self.collection = col("collection").astype(object)
        self.orbit_state = col("orbit_state").astype(object)
        self.proc_version = col("proc_version").astype(object)
        self.xmin, self.ymin = col("bbox_xmin"), col("bbox_ymin")
        self.xmax, self.ymax = col("bbox_xmax"), col("bbox_ymax")
        for name in ("datetime", "start_datetime", "end_datetime"):
            c = table.column(name).combine_chunks()
            valid = ~np.asarray(c.is_null().to_numpy(zero_copy_only=False), bool)
            us = c.cast("int64").fill_null(0).to_numpy()
            setattr(self, name, us)
            setattr(self, name + "_valid", valid)

    @classmethod
    def load(cls, path: str) -> "Catalog":
        return cls(pq.read_table(path))


def _ts_us(day: str) -> int:
    return (dt.date.fromisoformat(day) - _EPOCH).days * _US_PER_DAY


def _bbox_hits(c: Catalog, bbox) -> np.ndarray:
    x0, y0, x1, y1 = bbox
    return ~((c.xmax < x0) | (c.xmin > x1) | (c.ymax < y0) | (c.ymin > y1))


def search_mask(c: Catalog, bbox=None, time_range=None, collections=None, query=None) -> np.ndarray:
    """STAC search semantics: bbox envelope overlap, point-in-window or
    interval overlap in time, equality-in properties, and the
    antimeridian-bug guard (bbox width below 20 degrees)."""
    m = np.abs(c.xmax - c.xmin) < 20.0
    if collections:
        m &= np.isin(c.collection, list(collections))
    if bbox is not None:
        m &= _bbox_hits(c, bbox)
    if time_range is not None:
        t0, t1 = _ts_us(time_range[0]), _ts_us(time_range[1])
        point = c.datetime_valid & (c.datetime >= t0) & (c.datetime <= t1)
        interval = (~c.datetime_valid & c.start_datetime_valid
                    & (c.start_datetime <= t1) & (c.end_datetime >= t0))
        m &= point | interval
    for prop, vals in (query or {}).items():
        m &= np.isin(getattr(c, prop), list(vals))
    return m


def solar_day(c: Catalog) -> np.ndarray:
    """Days since the epoch of each scene's solar day: the nominal time
    (point, else interval midpoint) shifted by int(center_lon / 15) hours,
    truncated toward zero."""
    mid = c.start_datetime + (c.end_datetime - c.start_datetime) // 2
    nominal = np.where(c.datetime_valid, c.datetime, mid)
    hours = np.trunc((c.xmin + c.xmax) / 2.0 / 15.0).astype(np.int64)
    return (nominal + hours * 3_600_000_000) // _US_PER_DAY


def dedup_mask(c: Catalog, m: np.ndarray) -> np.ndarray:
    """Within ``m``, keep the scenes of the latest processing version of
    their (solar_day, tile_id) group."""
    idx = np.flatnonzero(m)
    days = solar_day(c)[idx]
    best: dict[tuple, str] = {}
    for d, t, v in zip(days, c.tile_id[idx], c.proc_version[idx]):
        if v > best.get((d, t), ""):
            best[(d, t)] = v
    keep = np.array([v == best[(d, t)] for d, t, v in zip(days, c.tile_id[idx], c.proc_version[idx])], bool)
    out = np.zeros_like(m)
    out[idx[keep]] = True
    return out


def knn_tiles(c: Catalog, lon: float, lat: float, k: int) -> list[str]:
    """The k tile ids nearest to (lon, lat) by squared distance of their
    envelope centers (envelope over every scene of the tile), ties by id."""
    tiles, inv = np.unique(c.tile_id.astype(str), return_inverse=True)
    xmin = np.full(len(tiles), np.inf)
    ymin = np.full(len(tiles), np.inf)
    xmax = np.full(len(tiles), -np.inf)
    ymax = np.full(len(tiles), -np.inf)
    np.minimum.at(xmin, inv, c.xmin)
    np.minimum.at(ymin, inv, c.ymin)
    np.maximum.at(xmax, inv, c.xmax)
    np.maximum.at(ymax, inv, c.ymax)
    d2 = ((xmin + xmax) / 2.0 - lon) ** 2 + ((ymin + ymax) / 2.0 - lat) ** 2
    order = np.lexsort((tiles, d2))[:k]
    return [str(t) for t in tiles[order]]


def answer(c: Catalog, q: dict) -> list[str]:
    """Reference result of one query of ``inputs.query_stream``: sorted item
    ids, or the ranked tile ids for knn."""
    kind = q["kind"]
    if kind == "knn":
        return knn_tiles(c, q["point"][0], q["point"][1], q["k"])
    if kind in ("join_small", "join_large"):
        m = _bbox_hits(c, q["bbox"])
    elif kind in ("search", "probe"):
        m = search_mask(c, q.get("bbox"), q.get("time_range"), q.get("collections"), q.get("query"))
    else:  # select, dedup
        m = dedup_mask(c, search_mask(c, q.get("bbox"), q.get("time_range")))
    return sorted(str(i) for i in c.item_id[m])
