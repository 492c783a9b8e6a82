"""The flagship plan: (bbox, time_range, bands) → cube tiles DataFrame.

Spark re-expression of ``ArdcStacCdseDataStore.open_data`` end-to-end
(reference store.py:571-609 → accessors/sen2.py:362-477 `_generate_cube`;
lifecycle in SURVEY §3.2). The reference builds the cube with nested driver
loops (time × tile × item); here the whole thing is six DataFrame stages and
the only driver-side work is planning:

    search-join (J1/F1/F2/F5) → dedup window (J2) → asset/image join (F6/S8)
    → tile assignment (J8) → decode+regrid Arrow UDF (C1/J9/J12)
    → take-first mosaic groupBy (J5) [→ time spine (U2)]

``build_cube`` returns the lazy DataFrame; callers write it partitioned by
(solar_day, tile_y, tile_x) via lineage.write_cube (checkpointed, resumable).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xcube_stac_spark import functions as X
from xcube_stac_spark.gridspec import GridSpec
from xcube_stac_spark.operators import spatial, tiles
from xcube_stac_spark.sources.catalog import SceneCatalog


def select_scenes(
    cat: SceneCatalog,
    bbox: Sequence[float],
    time_range: tuple[str, str],
    collections: Sequence[str] | None = None,
    query: dict | None = None,
) -> DataFrame:
    """Search + dedup + CRS-fix: the metadata half of the pipeline."""
    found = spatial.search_scenes(
        cat.scenes(), bbox=bbox, time_range=time_range,
        collections=collections, query=query,
    )
    deduped = spatial.dedup_latest_version(found)
    # wrong-hemisphere EPSG fix (hls.py:522-556) + zone/south derivation
    center_lat = X.bbox_center_lat(F.col("bbox_ymin"), F.col("bbox_ymax"))
    fixed = deduped.withColumn("proj_code_fixed", X.fix_hemisphere(F.col("proj_code"), center_lat))
    epsg = F.split(F.col("proj_code_fixed"), ":").getItem(1).cast("int")
    return (
        fixed.withColumn("utm_zone", (epsg % 100).cast("int"))
        .withColumn("south", (epsg >= 32700) & (epsg <= 32760))
        .withColumn("t_order", F.unix_micros(F.col("nominal_datetime")))
    )


def scene_images(
    cat: SceneCatalog,
    scenes: DataFrame,
    bands: Sequence[str] | None = None,
    drop_error_bands: bool = True,
) -> DataFrame:
    """Join the selected scenes to their pixel payloads.

    Band projection (F6, utils.py:325-351) happens BEFORE the images join so
    unwanted bands are never read; the images join key is image_id —
    at 10^12 scale both sides are bucketed by image_id so this is a
    co-partitioned (shuffle-free) join; locally Catalyst/AQE picks the
    strategy.

    ``drop_error_bands`` (F9, the reference's Sentinel-3 uncertainty-band
    exclusion, accessors/sen3.py:186-190): when selecting ALL bands, ``*_err``
    companions are dropped unless explicitly requested by name."""
    assets = cat.assets()
    if bands:
        assets = assets.where(F.col("band").isin(list(bands)))
    elif drop_error_bands:
        assets = assets.where(~F.col("band").endswith("_err"))
    # per-ASSET raster metadata wins over scene defaults (the reference's
    # raster extension is per-asset: stac_extension/raster.py:96-115, and
    # band resolutions differ — B02@10m vs VZA@5km)
    meta_cols = [
        "item_id", "tile_id", "solar_day", "t_order", "utm_zone", "south",
        "scene_x0", "scene_y0", "scene_res",
        F.col("nodata").alias("scene_nodata"),
        F.col("scale").alias("scene_scale"),
        F.col("offset").alias("scene_offset"),
        "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax",
    ]
    asset_cols = ["item_id", "band", "image_id"]
    has_asset_meta = "res" in assets.columns
    if has_asset_meta:
        asset_cols += [
            F.col("res").alias("asset_res"),
            F.col("scale").alias("asset_scale"),
            F.col("offset").alias("asset_offset"),
            F.col("nodata").alias("asset_nodata"),
        ]
    sel = scenes.select(*meta_cols).join(assets.select(*asset_cols), "item_id")
    if has_asset_meta:
        sel = (
            sel.withColumn("scene_res", F.coalesce("asset_res", "scene_res"))
            .withColumn("scale", F.coalesce("asset_scale", "scene_scale"))
            .withColumn("offset", F.coalesce("asset_offset", "scene_offset"))
            .withColumn("nodata", F.coalesce("asset_nodata", "scene_nodata"))
            .drop("asset_res", "asset_scale", "asset_offset", "asset_nodata")
        )
    else:
        sel = (
            sel.withColumnRenamed("scene_scale", "scale")
            .withColumnRenamed("scene_offset", "offset")
            .withColumnRenamed("scene_nodata", "nodata")
        )
    return (
        sel.join(cat.images(), "image_id")
        .withColumnRenamed("utm_zone", "zone")
        .drop("caption", "phash", "scene_scale", "scene_offset", "scene_nodata")
    )


def _assigned_images(cat, grid, bbox, time_range, bands, collections, query):
    """The metadata prelude of build_cube and expected_partitions. Open
    params are validated up front (params.validate_open_params — the
    reference's schema.validate_instance seam, store.py:201-205) so a bad
    bbox/time/band fails HERE with the parameter named, not five stages into
    the distributed plan; then scene search → image join → grid-tile
    assignment. Returns the assigned images and the resolved time range."""
    from xcube_stac_spark.params import validate_open_params

    validate_open_params(
        bbox=bbox, time_range=time_range, bands=bands,
        collections=collections, query=query,
    )
    if bbox is None:
        bbox = grid.bbox()
    if time_range is None:
        time_range = ("1970-01-01", "2100-01-01")
    scenes = select_scenes(cat, bbox, time_range, collections, query)
    imgs = scene_images(cat, scenes, bands)
    return tiles.assign_grid_tiles(imgs, grid), time_range


def expected_partitions(
    cat: SceneCatalog,
    grid: GridSpec,
    bbox: Sequence[float] | None = None,
    time_range: tuple[str, str] | None = None,
    bands: Sequence[str] | None = None,
    collections: Sequence[str] | None = None,
    query: dict | None = None,
) -> DataFrame:
    """The (solar_day, tile_y, tile_x) partition keys a build_cube call with
    the same arguments will cover — computed from METADATA ALONE (scene
    search x grid-tile assignment; Catalyst prunes the pixel ``bytes``
    column out of the scan entirely). ``lineage.write_cube`` requires these
    keys: they bound its resume anti-join, crash-leftover pre-clean and
    commit read-back."""
    assigned, _ = _assigned_images(
        cat, grid, bbox, time_range, bands, collections, query
    )
    return (
        assigned.select("solar_day", F.explode("grid_tiles").alias("t"))
        .select(
            "solar_day",
            F.col("t.tile_y").alias("tile_y"),
            F.col("t.tile_x").alias("tile_x"),
        )
        .distinct()
    )


def build_cube(
    cat: SceneCatalog,
    grid: GridSpec,
    bbox: Sequence[float] | None = None,
    time_range: tuple[str, str] | None = None,
    bands: Sequence[str] | None = None,
    collections: Sequence[str] | None = None,
    query: dict | None = None,
    with_spine: bool = False,
) -> DataFrame:
    """The whole flagship pipeline, lazily planned. ``bbox`` defaults to the
    grid's own extent (the cube is only ever built on the grid)."""
    assigned, time_range = _assigned_images(
        cat, grid, bbox, time_range, bands, collections, query
    )
    # large tiles ⇒ pre-build the shared projection planes in one balanced
    # stage (a single 2048-px plane is ~9 s of TM trig; letting decode tasks
    # build them inline duplicates the work across Python workers)
    if grid.tile_w * grid.tile_h >= 1 << 20:
        tiles.warm_plane_cache(assigned, grid)
    # repartition=True explicitly: ``assigned`` always arrives from the
    # AQE-coalesced metadata joins with fewer splits than the decode stage
    # wants, so the probe inside decode_regrid would resolve True anyway —
    # passing it skips an extra physical planning of the whole subtree.
    regridded = tiles.decode_regrid(assigned, grid, repartition=True)
    cube = tiles.mosaic_take_first(regridded)
    if with_spine:
        cube = tiles.time_spine(cube, time_range[0], time_range[1])
    return cube
