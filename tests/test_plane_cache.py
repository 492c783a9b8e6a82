"""Byte-budget plane cache: eviction accounting + relative-plane exactness.

The regrid kernel's per-worker cache is keyed on BYTES (tiles.py
_ByteBudgetCache) because index planes scale with tile area; these tests
pin the budget/eviction contract and that the uint16-relative plane
representation reconstructs the exact absolute indices of the spec
(floor((e - rx)/res) in float32 — the NumPy-oracle-shared decomposition).
"""

import numpy as np
import pytest

from xcube_stac_spark.gridspec import GridSpec
from xcube_stac_spark.operators import tiles


def test_byte_budget_evicts_lru(monkeypatch):
    monkeypatch.setenv("XSS_PLANE_CACHE_MB", "1")  # 1 MiB budget
    c = tiles._ByteBudgetCache()
    mk = lambda: (np.zeros(300_000, np.uint8), np.zeros(100_000, np.uint8), 1, 2)

    built = []

    def build(tag):
        def _b():
            built.append(tag)
            return mk()
        return _b

    c.get_or_build(("a",), build("a"))
    c.get_or_build(("b",), build("b"))
    c.get_or_build(("a",), build("a2"))  # hit — no rebuild
    assert built == ["a", "b"]
    # third 400 KB entry exceeds the 1 MiB budget → LRU ("b") evicted
    c.get_or_build(("c",), build("c"))
    assert c._bytes <= 1 << 20
    c.get_or_build(("b",), build("b2"))  # was evicted → rebuilt
    assert built == ["a", "b", "c", "b2"]


def test_oversized_entry_not_cached(monkeypatch):
    monkeypatch.setenv("XSS_PLANE_CACHE_MB", "1")
    c = tiles._ByteBudgetCache()
    big = lambda: (np.zeros(2 << 20, np.uint8),)
    c.get_or_build(("big",), big)
    assert c._bytes == 0 and not c._d  # computed but never admitted


def test_relative_planes_reconstruct_absolute_indices():
    grid = GridSpec(
        crs="EPSG:4326", x0=11.8, y0=50.0, res=0.002,
        width=96, height=96, tile_w=32, tile_h=32,
    )
    gd = grid.to_dict()
    g_key = tuple(sorted(gd.items()))
    res, rx, ry = 250.0, 0.0, 0.0
    col_rel, row_rel, cbase, rbase, cmax, rmax = tiles._tile_index_planes(
        g_key, 1, 1, 32, False, res, rx, ry
    )
    assert col_rel.dtype == np.uint16 and row_rel.dtype == np.uint16
    # spec: floor of the float32 mesh division, computed independently here
    e, n = tiles._tile_utm_coords(g_key, 1, 1, 32, False)
    col_abs = np.floor((e - np.float32(rx)) / np.float32(res)).astype(np.int64)
    row_abs = np.floor((np.float32(ry) - n) / np.float32(res)).astype(np.int64)
    np.testing.assert_array_equal(col_rel.astype(np.int64) + cbase, col_abs)
    np.testing.assert_array_equal(row_rel.astype(np.int64) + rbase, row_abs)
    assert (cmax, rmax) == (int(col_abs.max()), int(row_abs.max()))


def test_disk_tier_shared_across_fresh_caches(tmp_path, monkeypatch):
    """A big plane built once is served from the node-local disk tier by any
    later (fresh) worker cache WITHOUT recomputing the projection — the
    mechanism that de-duplicates plane builds across Python workers/JVMs."""
    monkeypatch.setenv("XSS_PLANE_CACHE_DIR", str(tmp_path))
    grid = GridSpec(
        crs="EPSG:4326", x0=11.0, y0=51.0, res=0.0005,
        width=1024, height=1024, tile_w=1024, tile_h=1024,
    )
    g_key = tuple(sorted(grid.to_dict().items()))
    args = (g_key, 0, 0, 32, False, 60.0, 0.0, 0.0)

    fresh = tiles._ByteBudgetCache()
    monkeypatch.setattr(tiles, "_PLANE_CACHE", fresh)
    first = tiles._tile_index_planes(*args)
    files = sorted(p.name for p in tmp_path.iterdir())
    assert any(f.endswith(".planes.npy") for f in files)
    assert any(f.endswith(".meta.npy") for f in files)

    # a brand-new in-memory cache + a poisoned projection ⇒ must hit disk
    monkeypatch.setattr(tiles, "_PLANE_CACHE", tiles._ByteBudgetCache())
    monkeypatch.setattr(
        tiles, "_tile_utm_coords",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("recomputed projection")),
    )
    second = tiles._tile_index_planes(*args)
    np.testing.assert_array_equal(np.asarray(first[0]), np.asarray(second[0]))
    np.testing.assert_array_equal(np.asarray(first[1]), np.asarray(second[1]))
    assert first[2:] == second[2:]


def test_warm_plane_cache_prebuilds_disk_tier(spark, sf0001_dir):
    """One balanced stage builds every plane the decode stage will touch,
    into the node-local disk tier (build_cube triggers this automatically
    for large-tile grids). Spark workers inherit the daemon's env, so the
    test asserts the exact per-key files in the REAL default cache dir."""
    import os

    from xcube_stac_spark import synth
    from xcube_stac_spark.plans import cube as cube_plan
    from xcube_stac_spark.sources.catalog import SceneCatalog

    base = synth.default_grid("sf0.001")
    # same extent, oversampled so interior 1024-px tiles exist (planes
    # > 1 MiB engage the disk tier; edge-cropped tiles stay memory-only)
    grid = GridSpec(
        crs=base.crs, x0=base.x0, y0=base.y0, res=base.res / 16,
        width=base.width * 16, height=base.height * 16,
        tile_w=1024, tile_h=1024,
    )
    cat = SceneCatalog(spark, sf0001_dir)
    scenes = cube_plan.select_scenes(cat, grid.bbox(), ("2025-06-01", "2025-06-30"))
    imgs = cube_plan.scene_images(cat, scenes, ["B02"])
    assigned = tiles.assign_grid_tiles(imgs, grid)

    # expected keys, replicated from warm_plane_cache's own derivation
    gd = grid.to_dict()
    g_key = tuple(sorted(gd.items()))
    rows = (
        assigned.selectExpr(
            "zone", "south", "scene_res", "scene_x0", "scene_y0", "explode(grid_tiles) t"
        )
        .selectExpr("zone", "south", "scene_res", "scene_x0", "scene_y0", "t.tile_x", "t.tile_y")
        .distinct()
        .collect()
    )
    expected = set()
    for r in rows:
        rx, _ = tiles.pixel_residue_shift(float(r.scene_x0), float(r.scene_res))
        ry, _ = tiles.pixel_residue_shift(float(r.scene_y0), float(r.scene_res))
        expected.add((g_key, int(r.tile_x), int(r.tile_y), int(r.zone), bool(r.south), float(r.scene_res), rx, ry))

    def tile_px(k):
        _, tx, ty = k[0], k[1], k[2]
        return (
            min(grid.tile_w, grid.width - k[1] * grid.tile_w)
            * min(grid.tile_h, grid.height - k[2] * grid.tile_h)
        )

    big = [k for k in sorted(expected) if tile_px(k) * 2 >= 1 << 20]
    assert big, "fixture must include at least one full-size tile"
    paths = [tiles._plane_disk_paths(k) for k in big]
    for meta_p, planes_p in paths:
        for p in (meta_p, planes_p):
            if os.path.exists(p):
                os.remove(p)

    n = tiles.warm_plane_cache(assigned, grid)
    assert n == len(expected) > 0
    for meta_p, planes_p in paths:
        assert os.path.exists(meta_p) and os.path.exists(planes_p)


def test_disk_tier_sweep_evicts_oldest(tmp_path, monkeypatch):
    """Over-budget disk tier drops oldest-written pairs, meta first (so a
    concurrent reader sees a missing commit marker, never a torn pair)."""
    import os
    import time

    monkeypatch.setenv("XSS_PLANE_CACHE_DIR", str(tmp_path))
    # 4 MB planes each; budget 9 MB → third store evicts the first
    monkeypatch.setenv("XSS_PLANE_CACHE_DISK_GB", str(9 / 1024))
    mk = lambda: (
        np.zeros((1024, 1024), np.uint16), np.zeros((1024, 1024), np.uint16),
        0, 0, 10, 10,
    )
    for i in range(3):
        tiles._plane_disk_store((f"k{i}",), mk())
        # distinct write stamps even on coarse-mtime filesystems
        t = time.time() + i * 10
        os.utime(tiles._plane_disk_paths((f"k{i}",))[1], (t, t))
    tiles._plane_disk_sweep(str(tmp_path))
    assert tiles._plane_disk_load(("k0",)) is None
    assert tiles._plane_disk_load(("k2",)) is not None


def test_disk_tier_ignores_planes_of_another_spec(tmp_path, monkeypatch):
    """The disk tier outlives processes and checkouts: a pair stored under
    another index-plane spec version is never served for the same key."""
    monkeypatch.setenv("XSS_PLANE_CACHE_DIR", str(tmp_path))
    pair = (
        np.ones((1024, 1024), np.uint16), np.ones((1024, 1024), np.uint16),
        0, 0, 10, 10,
    )
    with monkeypatch.context() as m:
        m.setattr(tiles, "PLANE_SPEC", tiles.PLANE_SPEC + 1)
        tiles._plane_disk_store(("k",), pair)
        assert tiles._plane_disk_load(("k",)) is not None
    assert tiles._plane_disk_load(("k",)) is None


def test_disk_tier_disabled_by_empty_env(tmp_path, monkeypatch):
    monkeypatch.setenv("XSS_PLANE_CACHE_DIR", "")
    assert tiles._plane_disk_dir() is None
    assert tiles._plane_disk_paths(("k",)) is None
    assert tiles._plane_disk_load(("k",)) is None


def test_oversized_tile_span_raises():
    # 1 grid cell ≈ 111 m; res=0.001 m ⇒ one 64-px tile spans ~7e6 scene px
    grid = GridSpec(
        crs="EPSG:4326", x0=11.8, y0=50.0, res=0.002,
        width=64, height=64, tile_w=64, tile_h=64,
    )
    g_key = tuple(sorted(grid.to_dict().items()))
    with pytest.raises(ValueError, match="uint16 relative-plane"):
        tiles._tile_index_planes(g_key, 0, 0, 32, False, 0.001, 0.0, 0.0)
