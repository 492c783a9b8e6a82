"""Raster tile pipeline: decode → regrid → take-first mosaic → time stack.

The Spark re-expression of the reference cube assembly (SURVEY §2.3/§3.2):

* ``assign_grid_tiles`` — raster→grid tile assignment (J8): instead of the
  reference's driver-side positional insert into a preallocated xr cube
  (sen2.py:1232-1325), each scene row gets the ARRAY of target grid tiles
  its bbox touches (pure-SQL sequence arithmetic); the "insert" becomes a
  shuffle of emitted tile rows into grid partitions.
* ``decode_regrid`` — S8-S11 + C1 + J9/J12 in one Arrow pass: decode the
  inline image bytes ONCE per scene/band, then for every target tile
  inverse-map the tile's cell centers through the scene's UTM affine (pure
  NumPy Transverse-Mercator), nearest-neighbor sample, apply
  scale/offset/nodata→NaN (stac_extension/raster.py:57-93). Emits long-form
  tile rows — the reference's (time, y, x) cube becomes the
  ``(time, band, tile_y, tile_x, data)`` DataFrame (SURVEY §1.1).
* ``mosaic_take_first`` — J5/A1 (utils.py:723-766 mosaic_spatial_take_first):
  per (solar_day, band, tile_y, tile_x) group, first non-NaN pixel wins in
  DETERMINISTIC (nominal_datetime, item_id) order — the reference relies on
  Python list order (sen2.py:612-615), nondeterministic under distribution,
  so the engine imposes this total order and the NumPy oracle uses the same
  (documented deviation-with-equivalence, SURVEY §7.3.1).
* ``time_spine`` — U2 gap fill (hls.py:510, sen2.py:1406-1464): left join
  against the full day spine; missing (day, band, tile) rows are explicit
  NaN-tile rows or left absent per ``materialize_gaps``.

Scale notes: decode+regrid is map-side only (no shuffle); the single shuffle
of the pipeline is the mosaic groupBy on (solar_day, band, tile_y, tile_x) —
exactly the cube's write partitioning, so the sink needs no extra exchange.
Tile payloads are float32 binary ~= 16 KB (64²) to 256 KB (256²); Arrow batch
size is capped in session.py so UDF groups stay comfortably in executor
memory at 2048² reference tile size.
"""

from __future__ import annotations

import os
import zlib
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_stac_spark import codecs
from xcube_stac_spark import geom as geom_mod
from xcube_stac_spark.gridspec import GridSpec

# ---------------------------------------------------------------------------
# J8: scene bbox → covering grid tiles (pure SQL)
# ---------------------------------------------------------------------------


def grid_tiles_expr(grid: GridSpec):
    """Array<struct<tile_x,tile_y>> of grid tiles intersecting the scene
    bbox — same floor arithmetic as GridSpec.tiles_for_bbox, as Column
    expressions (sequence + transform + flatten, fully codegen'd)."""
    tw = grid.tile_w * grid.res
    th = grid.tile_h * grid.res

    def clampx(c):
        return F.least(F.greatest(c, F.lit(0)), F.lit(grid.n_tiles_x - 1))

    def clampy(c):
        return F.least(F.greatest(c, F.lit(0)), F.lit(grid.n_tiles_y - 1))

    xmin, ymin = F.col("bbox_xmin"), F.col("bbox_ymin")
    xmax, ymax = F.col("bbox_xmax"), F.col("bbox_ymax")
    disjoint = (
        (xmax <= F.lit(grid.x0))
        | (xmin >= F.lit(grid.x1))
        | (ymax <= F.lit(grid.y1))
        | (ymin >= F.lit(grid.y0))
    )
    tx0 = clampx(F.floor((xmin - F.lit(grid.x0)) / F.lit(tw)).cast("int"))
    tx1 = clampx(F.floor((xmax - F.lit(grid.x0)) / F.lit(tw)).cast("int"))
    ty0 = clampy(F.floor((F.lit(grid.y0) - ymax) / F.lit(th)).cast("int"))
    ty1 = clampy(F.floor((F.lit(grid.y0) - ymin) / F.lit(th)).cast("int"))
    tiles = F.flatten(
        F.transform(
            F.sequence(ty0, ty1),
            lambda ty: F.transform(
                F.sequence(tx0, tx1),
                lambda tx: F.struct(tx.cast("int").alias("tile_x"), ty.cast("int").alias("tile_y")),
            ),
        )
    )
    empty = F.array().cast(T.ArrayType(T.StructType([
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
    ])))
    return F.when(disjoint, empty).otherwise(tiles)


def assign_grid_tiles(scene_images: DataFrame, grid: GridSpec) -> DataFrame:
    """Attach the target-tile array to each scene/band image row."""
    return scene_images.withColumn("grid_tiles", grid_tiles_expr(grid)).where(
        F.size("grid_tiles") > 0
    )


# ---------------------------------------------------------------------------
# decode + regrid (mapInPandas — one Arrow hop, decode once per image)
# ---------------------------------------------------------------------------

REGRID_SCHEMA = T.StructType(
    [
        T.StructField("solar_day", T.DateType()),
        T.StructField("band", T.StringType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("item_id", T.StringType()),
        T.StructField("t_order", T.LongType()),
        # raw DN (uint16 LE) + packed validity bitmask: HALF the bytes of a
        # float32 tile through the two expensive boundaries (Arrow hop +
        # mosaic shuffle); scale/offset ride along and are applied AFTER the
        # take-first pick (identical result to scaling first, since each
        # pixel is scaled by its own scene's factors either way).
        # dn/mask cover only the WINDOW [wy:wy+wh, wx:wx+ww] of the
        # (th x tw) tile where this scene can contribute — the Spark
        # analogue of the reference's slice-assign insert (J8,
        # sen2.py:1301-1325). Emitting full tiles instead multiplies the
        # shuffle volume by (tile area / scene-overlap area): at the
        # reference-native 2048-px tile over sub-tile-sized scenes that is
        # ~10x the bytes for identical information (measured 2x wall-time
        # loss end-to-end at sf1.0).
        T.StructField("wy", T.IntegerType()),
        T.StructField("wx", T.IntegerType()),
        T.StructField("wh", T.IntegerType()),
        T.StructField("ww", T.IntegerType()),
        T.StructField("th", T.IntegerType()),
        T.StructField("tw", T.IntegerType()),
        T.StructField("dn", T.BinaryType()),
        T.StructField("mask", T.BinaryType()),
        T.StructField("scale", T.DoubleType()),
        T.StructField("offset", T.DoubleType()),
        T.StructField("valid", T.IntegerType()),
    ]
)

_REGRID_IN_COLS = [
    "solar_day", "band", "item_id", "t_order", "bytes", "fmt", "w", "h",
    "zone", "south", "scene_x0", "scene_y0", "scene_res",
    "nodata", "scale", "offset", "grid_tiles",
]


def _tile_utm_coords(
    grid_key: tuple, tile_x: int, tile_y: int, zone: int, south: bool
) -> tuple[np.ndarray, np.ndarray]:
    """UTM easting/northing of one grid tile's cell centers.

    Stored as float32 BY SPEC (and the NumPy oracle computes the identical
    float32 mesh): 0.06 m worst-case coordinate rounding at UTM easting
    magnitudes, ~3 orders finer than any source pixel. NOT cached: the NN
    flagship consumes these only transiently inside _tile_index_planes
    (whose compact result IS cached); caching the float planes too would
    triple the per-worker cache bytes for no hot-path win."""
    grid = GridSpec.from_dict(dict(grid_key))
    lons, lats = grid.tile_cell_centers(tile_x, tile_y)
    lon2, lat2 = np.meshgrid(lons, lats)
    e, n = geom_mod.tm_forward(lon2, lat2, zone, south)
    return e.astype(np.float32), n.astype(np.float32)


class _ByteBudgetCache:
    """LRU keyed on BYTES, not entry count. Index planes scale with tile
    area — a 2048-px tile's planes are 1024x a 64-px tile's — so a fixed
    entry count either starves small-tile runs or blows up large-tile ones:
    256 cached int32 full planes at 2048 px would be ~13 GB PER PYTHON
    WORKER (x32 workers on local[32]). Budget via XSS_PLANE_CACHE_MB,
    default 768 MB/worker: holds every distinct (tile, zone, res) plane of
    the sf1.0 / 2048-px flagship shape (~40 entries x 16.8 MB) while 32
    workers stay ~24 GB total."""

    def __init__(self) -> None:
        from collections import OrderedDict

        self._d: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._bytes = 0
        self._budget = int(os.environ.get("XSS_PLANE_CACHE_MB", "768")) * (1 << 20)

    def get_or_build(self, key: tuple, build):
        v = self._d.get(key)
        if v is not None:
            self._d.move_to_end(key)
            return v[0]
        val = build()
        nbytes = sum(a.nbytes for a in val if isinstance(a, np.ndarray))
        if nbytes > self._budget:
            # Never admissible: return without flushing the resident planes.
            return val
        while self._d and self._bytes + nbytes > self._budget:
            _, (_, old_bytes) = self._d.popitem(last=False)
            self._bytes -= old_bytes
        self._d[key] = (val, nbytes)
        self._bytes += nbytes
        return val


_PLANE_CACHE = _ByteBudgetCache()


def _plane_disk_dir() -> str | None:
    """Node-local shared tier for index planes. Empty env disables."""
    d = os.environ.get("XSS_PLANE_CACHE_DIR", None)
    if d == "":
        return None
    if d is None:
        import tempfile

        d = os.path.join(tempfile.gettempdir(), "xss_plane_cache_v1")
    return d


# Version of the index-plane spec, hashed into every disk-tier filename: the
# tier outlives processes and checkouts, so a plane built by older index code
# must never be served. Bump it whenever _tile_index_planes, _tile_utm_coords,
# geom.tm_forward or pixel_residue_shift changes.
PLANE_SPEC = 1


def _plane_disk_paths(key: tuple) -> tuple[str, str] | None:
    d = _plane_disk_dir()
    if d is None:
        return None
    import hashlib

    fn = hashlib.sha1(repr((PLANE_SPEC, key)).encode()).hexdigest()
    return os.path.join(d, fn + ".meta.npy"), os.path.join(d, fn + ".planes.npy")


def _plane_disk_load(key: tuple):
    """meta written AFTER planes ⇒ meta presence commits the pair; a corrupt
    partial file just falls back to rebuilding."""
    paths = _plane_disk_paths(key)
    if paths is None:
        return None
    meta_p, planes_p = paths
    if not os.path.exists(meta_p):
        return None
    try:
        meta = np.load(meta_p)
        planes = np.load(planes_p, mmap_mode="r")
        return planes[0], planes[1], int(meta[0]), int(meta[1]), int(meta[2]), int(meta[3])
    except Exception:
        return None


def _plane_disk_sweep(d: str) -> None:
    """Bound the node-local tier (XSS_PLANE_CACHE_DISK_GB, default 8):
    when over budget, evict oldest-WRITTEN plane pairs first (mtime —
    atime is unreliable under relatime mounts). Runs at store time only —
    reads never pay the listdir."""
    budget = float(os.environ.get("XSS_PLANE_CACHE_DISK_GB", "8")) * (1 << 30)
    try:
        entries = []
        total = 0
        for fn in os.listdir(d):
            if not fn.endswith(".planes.npy"):
                continue
            p = os.path.join(d, fn)
            st = os.stat(p)
            entries.append((st.st_mtime, st.st_size, p))
            total += st.st_size
        if total <= budget:
            return
        for _, size, p in sorted(entries):
            for victim in (os.path.join(d, os.path.basename(p)[: -len(".planes.npy")] + ".meta.npy"), p):
                try:
                    os.remove(victim)
                except OSError:
                    pass
            total -= size
            if total <= budget:
                return
    except OSError:
        pass


def _plane_disk_store(key: tuple, val: tuple) -> tuple:
    paths = _plane_disk_paths(key)
    if paths is None:
        return val
    meta_p, planes_p = paths
    try:
        os.makedirs(os.path.dirname(meta_p), exist_ok=True)
        tmp = f".{os.getpid()}.tmp"
        np.save(planes_p + tmp, np.stack([val[0], val[1]]))
        os.rename(planes_p + tmp + ".npy", planes_p)
        np.save(meta_p + tmp, np.array(val[2:], dtype=np.int64))
        os.rename(meta_p + tmp + ".npy", meta_p)
        _plane_disk_sweep(os.path.dirname(meta_p))
    except OSError:
        return val  # disk tier is best-effort; the in-memory tier still holds it
    # serve the mmap-backed copy so all workers on this node share pages
    loaded = _plane_disk_load(key)
    return loaded if loaded is not None else val


def _tile_index_planes(
    grid_key: tuple, tile_x: int, tile_y: int, zone: int, south: bool,
    res: float, rx: float, ry: float,
) -> tuple[np.ndarray, np.ndarray, int, int, int, int]:
    """Base pixel-index planes floor((e - rx)/res), floor((ry - n)/res) —
    cached per (tile, zone, res, sub-pixel residue) in RELATIVE uint16 form:
    (col_rel, row_rel, cbase, rbase, cmax, rmax) with col = cbase + col_rel
    (absolute extrema cmax/rmax precomputed for the fast-path bounds check).

    Real tiled products share a per-zone pixel grid (Sentinel-2 MGRS tiles
    all sit on the common 10 m UTM lattice), so every aligned scene differs
    from the cached plane by an INTEGER shift — one add instead of a float
    mesh read + divide + floor per sample. uint16 relative storage is 2x
    smaller than absolute int32 (the kernel is bandwidth-bound) and exact:
    a tile never spans 65536 scene pixels (2048 output px at any
    oversampling <= 32x). The NumPy oracle implements the identical
    floor-decomposition (the defined index spec).

    Two tiers: the in-memory byte-budget LRU above, and a NODE-LOCAL disk
    tier (XSS_PLANE_CACHE_DIR, atomic-rename .npy pairs, served via
    mmap_mode="r"): building a 2048-px plane costs ~9 s of TM-series trig on
    this box, and without sharing EVERY Python worker of EVERY job rebuilds
    every plane it touches (measured: a fresh-JVM one-day job spent 5x its
    useful compute on duplicate plane builds). The disk tier makes a plane a
    build-once-per-node artifact, and mmap means the 32 local workers share
    ONE physical copy through the page cache — exactly the shape a
    per-executor-node cache would take on a real cluster."""

    def build():
        hit = _plane_disk_load(key)
        if hit is not None:
            return hit
        e, n = _tile_utm_coords(grid_key, tile_x, tile_y, zone, south)
        col = np.floor((e - np.float32(rx)) / np.float32(res)).astype(np.int64)
        row = np.floor((np.float32(ry) - n) / np.float32(res)).astype(np.int64)
        cbase, rbase = int(col.min()), int(row.min())
        cmax, rmax = int(col.max()), int(row.max())
        if cmax - cbase >= 65536 or rmax - rbase >= 65536:  # pragma: no cover
            raise ValueError(
                f"grid tile spans {cmax - cbase + 1}x{rmax - rbase + 1} scene "
                "pixels — exceeds the uint16 relative-plane representation"
            )
        val = (
            (col - cbase).astype(np.uint16), (row - rbase).astype(np.uint16),
            cbase, rbase, cmax, rmax,
        )
        if val[0].nbytes >= 1 << 20:  # share big planes only; small are cheap to rebuild
            val = _plane_disk_store(key, val)
        return val

    key = _plane_key(grid_key, tile_x, tile_y, zone, south, res, rx, ry)
    return _PLANE_CACHE.get_or_build(key, build)


def _plane_key(
    grid_key: tuple, tile_x: int, tile_y: int, zone: int, south: bool,
    res: float, rx: float, ry: float,
) -> tuple:
    return (grid_key, tile_x, tile_y, zone, south, res, rx, ry)


def _plane_stats(key: tuple, col_rel: np.ndarray, row_rel: np.ndarray):
    """Per-row and per-column extrema of the relative index planes,
    computed ONCE per cached plane (four O(tile) reductions) and cached.

    These bound the scene-overlap window WITHOUT touching the full planes
    per contribution: a tile row y can hold in-scene samples only if its
    col/row ranges intersect the scene's index intervals — a 2048-element
    vector test instead of a 4.2M-element plane materialization. The
    resulting coarse window is a SUPERSET of the exact overlap (per-axis
    extrema can't see joint col∧row violations), so the exact crop then
    runs on the coarse window only; emitted windows are bit-identical to
    the full-plane formulation."""

    def build():
        return (
            col_rel.min(axis=1).astype(np.int32),
            col_rel.max(axis=1).astype(np.int32),
            row_rel.min(axis=1).astype(np.int32),
            row_rel.max(axis=1).astype(np.int32),
            col_rel.min(axis=0).astype(np.int32),
            col_rel.max(axis=0).astype(np.int32),
            row_rel.min(axis=0).astype(np.int32),
            row_rel.max(axis=0).astype(np.int32),
        )

    return _PLANE_CACHE.get_or_build((key, "stats"), build)


def _plane_idx_base(key: tuple, col_rel: np.ndarray, row_rel: np.ndarray, w: int):
    """Fused flat gather index row_rel*w + col_rel (int32), cached per
    (plane, scene width): aligned scenes of the same product width then
    need ONE vector add (+ base shift) per contribution instead of a
    convert+multiply+add over the full tile — the interior-path kernel is
    bandwidth-bound and this cuts its per-contribution traffic ~2x."""

    def build():
        return (row_rel.astype(np.int32) * np.int32(w) + col_rel,)

    return _PLANE_CACHE.get_or_build((key, "idx", w), build)[0]


#: In-flight window codec (decode_regrid → mosaic): zstd level 1 via the
#: codec pyarrow bundles (pyarrow is already a hard dependency of every
#: Arrow UDF in this pipeline). Profiled on real corpus DN windows:
#: 0.051 ms/window at ratio 1.54 vs zlib level 1's 0.370 ms at 1.57 — 7x
#: the speed at the same ratio, and zlib.compress was 43% of the whole
#: decode+regrid stage's CPU (cProfile, sf1.0 bench shape). These payloads
#: live only between the decode stage and the mosaic (two Arrow hops + one
#: shuffle) and are never at rest; the PERSISTED plane encoding
#: (encode_plane below) stays zlib so kill/resume digests and any on-disk
#: readers are untouched.
_WIN_CODEC_NAME = "zstd"
_WIN_CODEC_LEVEL = 1


def _win_codec():
    import pyarrow as pa

    return pa.Codec(_WIN_CODEC_NAME, compression_level=_WIN_CODEC_LEVEL)


_WIN = None


def compress_window(raw: bytes) -> bytes:
    global _WIN
    if _WIN is None:
        _WIN = _win_codec()
    return _WIN.compress(raw, asbytes=True)


def decompress_window(z: bytes, n: int) -> bytes:
    """Decompress an in-flight window payload of known decompressed size
    ``n`` (window dims travel on the same row)."""
    global _WIN
    if _WIN is None:
        _WIN = _win_codec()
    return _WIN.decompress(z, decompressed_size=n, asbytes=True)


def pixel_residue_shift(origin: float, res: float) -> tuple[float, int]:
    """Split a scene origin into (sub-pixel residue, integer pixel shift):
    origin = residue + shift*res with shift integral. Shared spec between
    engine and oracle."""
    shift = int(round(origin / res))
    r = origin - shift * res
    return r, shift


def _regrid_one(
    img: np.ndarray,
    grid: GridSpec,
    grid_key: tuple,
    tile_x: int,
    tile_y: int,
    zone: int,
    south: bool,
    scene_x0: float,
    scene_y0: float,
    scene_res: float,
    nodata: float,
) -> tuple[bytes, bytes, int, int, int, int, int, int, int] | None:
    """Nearest-neighbor sample one target tile from one decoded scene image.

    Target cell centers (lon/lat) → scene UTM via TM forward (cached per
    (grid, tile, zone)) → fractional pixel indices in the scene's north-up
    affine → NN sample. Emits raw DN + packed validity bits (out-of-scene
    and DN==nodata are invalid) CROPPED to the window of the tile the scene
    overlaps; the scale/offset application (C1, stac_extension/raster.py:
    57-93) happens after the mosaic pick. Returns (dn bytes, mask bytes,
    n_valid, wy, wx, wh, ww, th, tw) or None when the tile catches no valid
    pixel (empty-clip drop, sen2.py:704-706)."""
    h, w = img.shape
    rx, sx = pixel_residue_shift(scene_x0, scene_res)
    ry, sy = pixel_residue_shift(scene_y0, scene_res)
    key = _plane_key(grid_key, tile_x, tile_y, zone, south, float(scene_res), rx, ry)
    col_rel, row_rel, cbase, rbase, cmax, rmax = _tile_index_planes(
        grid_key, tile_x, tile_y, zone, south, float(scene_res), rx, ry
    )
    # INTERIOR-TILE fast path: col = cbase + col_rel - sx ∈ [0, w) and
    # row = rbase + row_rel + sy ∈ [0, h) for the WHOLE tile (checked from
    # the cached extrema alone) → no bounds planes, one fused gather from
    # the cached idx_base plane (one vector add per contribution).
    # All index math fits int32: row_rel*w < h*w < 2^31 (guarded), and
    # base = idx(rel=0) lies in [0, h*w) because the extrema check proved
    # every absolute index in-bounds.
    th, tw = col_rel.shape
    if h * w < 2**31 and cbase >= sx and cmax <= w - 1 + sx and rbase >= -sy and rmax <= h - 1 - sy:
        base = (rbase + sy) * w + (cbase - sx)
        idx = _plane_idx_base(key, col_rel, row_rel, w) + np.int32(base)
        dn = img.ravel()[idx]
        valid = dn != nodata
        n_valid = int(valid.sum())
        if n_valid == 0:
            return None
        # whole tile interior to the scene → the window IS the tile
        dn_z = compress_window(dn.tobytes())
        mask_z = compress_window(np.packbits(valid.ravel()).tobytes())
        return dn_z, mask_z, n_valid, 0, 0, th, tw, th, tw
    # coarse window from the cached per-row/per-col extrema (O(tile edge)
    # vector tests — the full-tile int32 planes are never materialized),
    # then the EXACT crop inside it: emitted windows are bit-identical to
    # the full-plane formulation (see _plane_stats)
    cmin_r, cmax_r, rmin_r, rmax_r, cmin_c, cmax_c, rmin_c, rmax_c = _plane_stats(
        key, col_rel, row_rel
    )
    clo, chi = sx - cbase, w - 1 + sx - cbase
    rlo, rhi = -sy - rbase, h - 1 - sy - rbase
    ys_c = (cmin_r <= chi) & (cmax_r >= clo) & (rmin_r <= rhi) & (rmax_r >= rlo)
    xs_c = (cmin_c <= chi) & (cmax_c >= clo) & (rmin_c <= rhi) & (rmax_c >= rlo)
    if not ys_c.any() or not xs_c.any():
        return None
    cy0 = int(ys_c.argmax()); cy1 = th - int(ys_c[::-1].argmax())
    cx0 = int(xs_c.argmax()); cx1 = tw - int(xs_c[::-1].argmax())
    col = col_rel[cy0:cy1, cx0:cx1].astype(np.int32) + np.int32(cbase - sx)
    row = row_rel[cy0:cy1, cx0:cx1].astype(np.int32) + np.int32(rbase + sy)
    inside = (col >= 0) & (col < w) & (row >= 0) & (row < h)
    ys, xs = inside.any(axis=1), inside.any(axis=0)
    if not ys.any():
        return None
    # exact crop within the coarse window: gather, compress, Arrow transfer
    # and mosaic all touch only the true overlap's pixels
    wy0 = int(ys.argmax()); wy1 = inside.shape[0] - int(ys[::-1].argmax())
    wx0 = int(xs.argmax()); wx1 = inside.shape[1] - int(xs[::-1].argmax())
    y0, y1 = cy0 + wy0, cy0 + wy1
    x0, x1 = cx0 + wx0, cx0 + wx1
    colw, roww, insw = (
        col[wy0:wy1, wx0:wx1], row[wy0:wy1, wx0:wx1], inside[wy0:wy1, wx0:wx1]
    )
    dn = np.zeros(colw.shape, dtype=np.uint16)
    dn[insw] = img[roww[insw], colw[insw]]
    valid = insw & (dn != nodata)
    n_valid = int(valid.sum())
    if n_valid == 0:
        return None
    # light compression over the DN window: the tile crosses two Arrow hops
    # and one shuffle before the mosaic — compressing here trades cheap CPU
    # for the scarce resource (network on a cluster, memory bandwidth on
    # this VM); see the window-codec note above for the zstd-vs-zlib trade
    dn_z = compress_window(dn.tobytes())
    mask_z = compress_window(np.packbits(valid.ravel()).tobytes())
    return dn_z, mask_z, n_valid, y0, x0, y1 - y0, x1 - x0, th, tw


def warm_plane_cache(scene_images: DataFrame, grid: GridSpec) -> int:
    """Build every index plane the decode stage will need in ONE balanced
    Spark stage (keys round-robin across workers), populating the node-local
    disk tier so no decode task ever builds a plane inline.

    Without this, cold-start plane builds serialize behind whichever decode
    tasks first touch each (tile, zone, res, residue) key — at the 2048-px
    native tile a single build is ~9 s of TM trig, and a fresh JVM's decode
    stage degenerates into duplicated plane building (measured 5x overhead
    on one-day jobs). The key list comes from scene METADATA only (no pixel
    reads), and nothing scene-shaped ever crosses the driver: scene origins
    collapse to sub-pixel RESIDUES executor-side (aligned products share a
    per-zone pixel lattice, so residue cardinality ≈ #res values), the
    distinct runs distributed over the collapsed keys, and a mapInPandas
    pass builds the planes where the keys live. Returns the number of
    distinct planes."""
    gd = grid.to_dict()
    g_key = tuple(sorted(gd.items()))

    def residues(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # np.rint == Python round(): both round-half-even on the same double,
        # so these residues EQUAL pixel_residue_shift's (shared cache keys)
        for pdf in batches:
            res = pdf["scene_res"].to_numpy()
            yield pd.DataFrame(
                {
                    "tile_x": pdf["tile_x"],
                    "tile_y": pdf["tile_y"],
                    "zone": pdf["zone"],
                    "south": pdf["south"],
                    "scene_res": res,
                    "rx": pdf["scene_x0"].to_numpy() - np.rint(pdf["scene_x0"].to_numpy() / res) * res,
                    "ry": pdf["scene_y0"].to_numpy() - np.rint(pdf["scene_y0"].to_numpy() / res) * res,
                }
            )

    key_schema = (
        "tile_x int, tile_y int, zone int, south boolean, "
        "scene_res double, rx double, ry double"
    )
    keys_df = (
        scene_images.select(
            "zone", "south", "scene_res", "scene_x0", "scene_y0",
            F.explode("grid_tiles").alias("t"),
        )
        .select("zone", "south", "scene_res", "scene_x0", "scene_y0",
                F.col("t.tile_x").alias("tile_x"), F.col("t.tile_y").alias("tile_y"))
        .mapInPandas(residues, key_schema)
        .distinct()
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                _tile_index_planes(
                    g_key, int(r.tile_x), int(r.tile_y), int(r.zone),
                    bool(r.south), float(r.scene_res), float(r.rx), float(r.ry),
                )
            yield pd.DataFrame({"n": [len(pdf)]})

    parallelism = scene_images.sparkSession.sparkContext.defaultParallelism
    counts = keys_df.repartition(parallelism).mapInPandas(build, "n long").agg(F.sum("n")).collect()
    return int(counts[0][0] or 0)


def decode_regrid(
    scene_images: DataFrame, grid: GridSpec, repartition: bool = True,
) -> DataFrame:
    """mapInPandas: (scene,band) image rows with target-tile arrays →
    long-form regridded tile rows. Decode runs once per input row; each
    emitted tile reuses the decoded array.

    The input is round-robin repartitioned to 3x ``defaultParallelism``
    first (``repartition=False`` keeps its partitioning): the decode+regrid
    stage is the compute-heavy one and its parallelism must come from the
    ENGINE, not from however many row groups the upstream parquet had (one
    fat input split serialized the whole stage: 0.28 measured scaling
    efficiency). Round-robin beats spatial keying here — per-tile
    projection is cached per worker and measured cheap (~2 ms/tile, ~1% of
    stage time), so load balance matters more than projection-cache
    locality. (On a real cluster the scenes table is
    additionally partitioned by cell key so the METADATA joins prune; that
    is orthogonal to this decode-stage balance.)"""
    gd = grid.to_dict()
    if repartition:
        sc = scene_images.sparkSession.sparkContext
        scene_images = scene_images.repartition(3 * sc.defaultParallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = GridSpec.from_dict(gd)
        g_key = tuple(sorted(gd.items()))
        for pdf in batches:
            rows: dict[str, list] = {k.name: [] for k in REGRID_SCHEMA.fields}
            for r in pdf.itertuples(index=False):
                img = codecs.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                for t in r.grid_tiles:
                    res = _regrid_one(
                        img, g, g_key, int(t["tile_x"]), int(t["tile_y"]),
                        int(r.zone), bool(r.south),
                        float(r.scene_x0), float(r.scene_y0), float(r.scene_res),
                        float(r.nodata),
                    )
                    if res is None:
                        continue
                    dn, mask, valid, wy, wx, wh, ww, th, tw = res
                    rows["solar_day"].append(r.solar_day)
                    rows["band"].append(r.band)
                    rows["tile_y"].append(int(t["tile_y"]))
                    rows["tile_x"].append(int(t["tile_x"]))
                    rows["item_id"].append(r.item_id)
                    rows["t_order"].append(int(r.t_order))
                    rows["wy"].append(wy)
                    rows["wx"].append(wx)
                    rows["wh"].append(wh)
                    rows["ww"].append(ww)
                    rows["th"].append(th)
                    rows["tw"].append(tw)
                    rows["dn"].append(dn)
                    rows["mask"].append(mask)
                    rows["scale"].append(float(r.scale))
                    rows["offset"].append(float(r.offset))
                    rows["valid"].append(valid)
            # a batch whose scenes all miss the grid yields NOTHING: an empty
            # dict-of-lists DataFrame defaults every column to float64 and
            # Arrow cannot cast an empty double column to date32
            if rows["item_id"]:
                yield pd.DataFrame(rows)

    return scene_images.select(*_REGRID_IN_COLS).mapInPandas(run, REGRID_SCHEMA)


# ---------------------------------------------------------------------------
# J5/A1: take-first mosaic
# ---------------------------------------------------------------------------

MOSAIC_SCHEMA = T.StructType(
    [
        T.StructField("solar_day", T.DateType()),
        T.StructField("band", T.StringType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("npix", T.IntegerType()),
        T.StructField("n_scenes", T.IntegerType()),
        T.StructField("item_ids", T.StringType()),
        T.StructField("valid_frac", T.DoubleType()),
        T.StructField("checksum", T.DoubleType()),
    ]
)

#: zlib level for at-rest/persisted cube planes: level 1 trades ~5% ratio
#: for ~3x the speed of level 6 — the plane path is DRAM-bound, not
#: ratio-bound (BENCH/WINDOWS.md: sf1-native sat at the bytes-kernel
#: ceiling), so cheap-and-fast is the right point
PLANE_ZLIB_LEVEL = 1

#: 4-byte payload tag making the plane encoding self-describing — a
#: compressed plane whose deflate stream happened to be exactly the raw
#:  float32 size would otherwise be misread as raw pixels (length was the
#: only discriminator)
PLANE_MAGIC = b"ZPL1"


def encode_plane(arr: np.ndarray) -> bytes:
    """Cube plane payload encoding: PLANE_MAGIC + zlib(float32 C-order bytes).

    The mosaic's float32 output plane is ~16 MB at the reference-native
    2048-px tile and used to move RAW through persist + shuffle + parquet —
    the measured DRAM bottleneck of the sf1-native shape. NaN-masked cube
    planes deflate 2-10x (NaN runs and smooth DN content), cutting every
    downstream byte movement by the same factor. Deterministic: CPython's
    zlib at a fixed level produces identical bytes for identical input, so
    digest-based kill/resume comparisons still hold."""
    return PLANE_MAGIC + zlib.compress(
        np.ascontiguousarray(arr, np.float32).tobytes(), PLANE_ZLIB_LEVEL
    )


def mosaic_take_first(
    tiles: DataFrame, order: str = "first", write_aligned: bool = True
) -> DataFrame:
    """Grouped take-first mosaic over (solar_day, band, tile_y, tile_x) —
    the pixel core of the reference's ``mosaic_spatial_take_first``
    (utils.py:746-758: argmax over the non-fill mask + da.choose), assembled
    window-by-window: scenes are visited in priority order and each scene's
    window fills only still-empty pixels, which IS "first valid wins" and
    never materializes the N-scene full-tile stack the argmax formulation
    needs (at 2048-px tiles with ~14 contributing scenes that stack is
    ~120 MB per group). Scaling after selection equals scaling before it:
    each output pixel is scale_s*DN + offset_s for its OWN winning scene s
    either way. NaN where no scene contributes.

    Scene order inside a group is (t_order, item_id) ascending — the
    engine's deterministic replacement for the reference's Python list
    order (sen2.py:612-615), which would be nondeterministic under
    distribution.

    ``order="last"`` flips priority: LAST valid wins — the update-merge /
    combine_first-reversed semantics (U3 utils.py:716-720, J10
    hls.py:496-500); used by the multi-res merge (J7, utils.py:652-706)
    where finer-resolution datasets update coarser ones.

    ``write_aligned`` (default): the grouping exchange hashes on the WRITE
    partition key (solar_day, tile_y, tile_x) — a strict subset of the
    group key (all bands of a tile land in one task) — so the downstream
    partitioned write needs NO second shuffle of the full output planes.
    That plane shuffle was the dominant byte mover of the sf1-native shape:
    window rows (compressed DN+mask, the smallest representation in the
    pipeline) are what crosses the wire instead.

    Execution shape: repartition on the chosen key + sortWithinPartitions
    on (group key, t_order, item_id) + ONE ``mapInPandas`` that walks the
    sorted stream and merges each group where the key changes, carrying the
    possibly-split tail group across Arrow batch boundaries. A
    ``groupBy.applyInPandas`` formulation is semantically identical but
    pays ~10 core-ms of per-group Arrow/pandas dispatch — at 128-px tiles
    (45k groups per sf0.1 job) that overhead WAS ~80% of the whole
    pipeline's CPU; batching it away is a 2-3x end-to-end win at small
    tiles and neutral at 2048-px tiles (few groups)."""

    GROUP_COLS = ["solar_day", "band", "tile_y", "tile_x"]

    def merge_group(g: pd.DataFrame, out_cols: dict) -> None:
        # rows arrive (t_order, item_id)-ascending from the partition sort;
        # order="last" (LAST valid wins) is first-wins over the reversed
        # stream — identical to the former descending sort
        rows = g.itertuples(index=False)
        if order != "first":
            rows = reversed(list(rows))
        th, tw = int(g["th"].iloc[0]), int(g["tw"].iloc[0])
        out = np.full((th, tw), np.nan, np.float32)
        filled = np.zeros((th, tw), dtype=bool)
        for r in rows:
            npix = int(r.wh) * int(r.ww)
            dn = np.frombuffer(
                decompress_window(r.dn, 2 * npix), np.uint16
            ).reshape(r.wh, r.ww)
            m = (
                np.unpackbits(
                    np.frombuffer(
                        decompress_window(r.mask, (npix + 7) // 8), np.uint8
                    )
                )[:npix]
                .reshape(r.wh, r.ww)
                .astype(bool)
            )
            sub_fill = filled[r.wy : r.wy + r.wh, r.wx : r.wx + r.ww]
            put = m & ~sub_fill
            n_put = int(put.sum())
            if n_put:
                # identical per-pixel math either way (scale*DN+offset in
                # float64, cast float32); the sparse path skips
                # materializing the full-window float64 plane when most
                # pixels are already filled by higher-priority scenes —
                # later mosaic contributors usually win only slivers
                if n_put * 4 < put.size:
                    vals = (
                        r.scale * dn[put].astype(np.float64) + r.offset
                    ).astype(np.float32)
                    out[r.wy : r.wy + r.wh, r.wx : r.wx + r.ww][put] = vals
                else:
                    vals = (r.scale * dn.astype(np.float64) + r.offset).astype(np.float32)
                    out[r.wy : r.wy + r.wh, r.wx : r.wx + r.ww][put] = vals[put]
                sub_fill[put] = True
        out_cols["solar_day"].append(g["solar_day"].iloc[0])
        out_cols["band"].append(g["band"].iloc[0])
        out_cols["tile_y"].append(g["tile_y"].iloc[0])
        out_cols["tile_x"].append(g["tile_x"].iloc[0])
        out_cols["data"].append(encode_plane(out))
        out_cols["npix"].append(th * tw)
        out_cols["n_scenes"].append(len(g))
        out_cols["item_ids"].append(",".join(g["item_id"].tolist()))
        out_cols["valid_frac"].append(float(filled.mean()))
        out_cols["checksum"].append(float(np.nansum(out.astype(np.float64))))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if not len(pdf):
                continue
            keys = pdf[GROUP_COLS]
            starts = np.flatnonzero((keys != keys.shift()).any(axis=1).values)
            out_cols: dict[str, list] = {k.name: [] for k in MOSAIC_SCHEMA.fields}
            for s, e in zip(starts[:-1], starts[1:]):
                merge_group(pdf.iloc[s:e], out_cols)
            # the last group may continue in the next Arrow batch
            pend = pdf.iloc[starts[-1] :]
            if out_cols["band"]:
                yield pd.DataFrame(out_cols)
        if pend is not None and len(pend):
            out_cols = {k.name: [] for k in MOSAIC_SCHEMA.fields}
            merge_group(pend, out_cols)
            yield pd.DataFrame(out_cols)

    part_cols = (
        ["solar_day", "tile_y", "tile_x"] if write_aligned else GROUP_COLS
    )
    return (
        tiles.repartition(*part_cols)
        .sortWithinPartitions(*GROUP_COLS, "t_order", "item_id")
        .mapInPandas(run, MOSAIC_SCHEMA)
    )


# ---------------------------------------------------------------------------
# U1/U2: temporal stacking + gap fill
# ---------------------------------------------------------------------------


def time_spine(cube: DataFrame, t0: str, t1: str) -> DataFrame:
    """Full (solar_day x band x tile) spine left-joined against the cube —
    reindex-with-fill semantics (hls.py:510; NaN-slice insertion
    sen2.py:1406-1464). Missing combinations appear with NULL data."""
    spark = cube.sparkSession
    days = spark.sql(
        f"select explode(sequence(to_date('{t0}'), to_date('{t1}'), interval 1 day)) as solar_day"
    )
    keys = cube.select("band", "tile_y", "tile_x").distinct()
    spine = F.broadcast(days).crossJoin(keys)
    return spine.join(cube, ["solar_day", "band", "tile_y", "tile_x"], "left")


def pivot_bands(df: DataFrame, bands: Sequence[str], value_col: str, group_cols: Sequence[str]) -> DataFrame:
    """Long-form band rows → wide per-group columns (U3 variable
    update-merge / the reference's one-variable-per-band dataset shape,
    utils.py:628-649 naming). Conditional aggregation (not .pivot) so the
    plan is static and the DuckDB oracle is expressible identically."""
    aggs = [
        F.max(F.when(F.col("band") == b, F.col(value_col))).alias(f"{b}_{value_col}")
        for b in bands
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def tile_to_array(data: bytes, rows: int, cols: int) -> np.ndarray:
    """Decode a cube tile payload back to (rows, cols) float32.

    Tagged payloads (PLANE_MAGIC prefix, encode_plane) are zlib-deflated;
    a payload of exactly the raw float32 size is legacy-raw (pre-tag cubes,
    rectify_swath planes); anything else is a legacy untagged deflate
    stream. The tag removes the ambiguity of a compressed payload whose
    length coincides with the raw size."""
    if data[:4] == PLANE_MAGIC:
        return np.frombuffer(zlib.decompress(data[4:]), np.float32).reshape(rows, cols)
    if len(data) == rows * cols * 4:
        return np.frombuffer(data, dtype=np.float32).reshape(rows, cols)
    return np.frombuffer(zlib.decompress(data), dtype=np.float32).reshape(rows, cols)
