"""S13/C14: granule-XML angle metadata → angle raster planes.

The reference parses each granule's metadata XML into 23x23 viewing-angle
grids at 5 km spacing, nanmean-averaged over detector ids, and resamples
them like coarse rasters (``accessors/sen2.py:997-1112``; values extraction
``:1095-1112``). Here the XML sidecar table ``granule_xml`` (item_id, xml)
carries the same ``Tile_Angles`` structure; ``parse_angle_planes`` is an
Arrow ``mapInPandas`` pass doing the actual XML parse (xml.etree — the part
with real failure modes: missing grids, NaN cells, detector merging) and
emitting DN-encoded planes that flow through the IDENTICAL decode+regrid
pipeline as spectral bands.

Angle encoding: deg = ANGLE_SCALE * DN + ANGLE_OFFSET (DN 0 = nodata), the
same per-asset raster-extension scaling the assets table carries — so the
XML-parsed path and the images-table path must produce bit-identical cubes.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_stac_spark.synth import ANGLE_OFFSET, ANGLE_SCALE

ANGLE_PLANES_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("bytes", T.BinaryType()),  # raw uint16 DN, row-major
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("res", T.DoubleType()),  # COL_STEP from the XML
        T.StructField("ulx", T.DoubleType()),
        T.StructField("uly", T.DoubleType()),
        T.StructField("scale", T.DoubleType()),
        T.StructField("offset", T.DoubleType()),
        T.StructField("nodata", T.DoubleType()),
    ]
)

_LOCAL = "{*}"  # namespace-agnostic tag match for ElementTree


def _values_grid(angle_el: ET.Element) -> tuple[np.ndarray, float]:
    """<Zenith>/<Azimuth> element → (float32 grid, col_step). Mirrors the
    reference's row-split parse (sen2.py:1095-1112) incl. NaN cells."""
    step = float(angle_el.find(f"{_LOCAL}COL_STEP").text)
    rows = [
        np.array(v.text.split(" "), dtype=np.float32)
        for v in angle_el.find(f"{_LOCAL}Values_List").findall(f"{_LOCAL}VALUES")
    ]
    return np.stack(rows), step


def parse_granule_xml(xml_text: str) -> dict:
    """One granule XML → dict(ulx, uly, res, proj_code, planes={band: deg
    float32 grid}). Viewing angles are nanmean-merged over detector ids
    (reference sen2.py:1063-1077); VZA = viewing zenith, VAA = azimuth."""
    root = ET.fromstring(xml_text)
    geo = root.find(f"{_LOCAL}Geometric_Info")
    geocode = geo.find(f"{_LOCAL}Tile_Geocoding")
    pos = geocode.find(f"{_LOCAL}Geoposition")
    ulx = float(pos.find(f"{_LOCAL}ULX").text)
    uly = float(pos.find(f"{_LOCAL}ULY").text)
    proj_code = geocode.find(f"{_LOCAL}HORIZONTAL_CS_CODE").text
    angles = geo.find(f"{_LOCAL}Tile_Angles")
    zen_stack, azi_stack = [], []
    res = None
    for g in angles.findall(f"{_LOCAL}Viewing_Incidence_Angles_Grids"):
        z, res = _values_grid(g.find(f"{_LOCAL}Zenith"))
        a, _ = _values_grid(g.find(f"{_LOCAL}Azimuth"))
        zen_stack.append(z)
        azi_stack.append(a)
    if not zen_stack:
        raise ValueError("granule XML has no Viewing_Incidence_Angles_Grids")
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN cells
        vza = np.nanmean(np.stack(zen_stack), axis=0)
        vaa = np.nanmean(np.stack(azi_stack), axis=0)
    return dict(ulx=ulx, uly=uly, res=res, proj_code=proj_code,
                planes={"VZA": vza, "VAA": vaa})


def _deg_to_dn(deg: np.ndarray) -> np.ndarray:
    """Invert the raster-extension scaling: DN = rint((deg - offset)/scale);
    NaN (no detector coverage) → DN 0 = nodata."""
    dn = np.rint((deg - ANGLE_OFFSET) / ANGLE_SCALE)
    dn = np.where(np.isfinite(deg), dn, 0.0)
    return np.clip(dn, 0, 65535).astype(np.uint16)


def parse_angle_planes(xml_df: DataFrame) -> DataFrame:
    """granule_xml rows → long-form angle-plane rows (one per band) with the
    geo-referencing read FROM the XML, ready for the decode+regrid pipeline.
    Map-side Arrow pass; the parse runs once per granule."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in ANGLE_PLANES_SCHEMA.fields}
            for r in pdf.itertuples(index=False):
                g = parse_granule_xml(r.xml)
                for band, deg in g["planes"].items():
                    dn = _deg_to_dn(deg)
                    out["item_id"].append(r.item_id)
                    out["band"].append(band)
                    out["bytes"].append(dn.tobytes())
                    out["w"].append(dn.shape[1])
                    out["h"].append(dn.shape[0])
                    out["fmt"].append("raw")
                    out["res"].append(float(g["res"]))
                    out["ulx"].append(g["ulx"])
                    out["uly"].append(g["uly"])
                    out["scale"].append(ANGLE_SCALE)
                    out["offset"].append(ANGLE_OFFSET)
                    out["nodata"].append(0.0)
            yield pd.DataFrame(out)

    return xml_df.select("item_id", "xml").mapInPandas(run, ANGLE_PLANES_SCHEMA)


def angles_cube_from_xml(cat, grid, time_range=None, bands=None) -> DataFrame:
    """The C14 end-to-end path: scene search/dedup as usual, but the angle
    PIXELS come from parsing granule XML instead of the images table; the
    planes then run the identical assign→decode_regrid→mosaic pipeline.
    Must produce a cube bit-identical to the images-table angle path (the
    synth sidecars encode the same planes)."""
    from xcube_stac_spark.operators import tiles
    from xcube_stac_spark.plans import cube as cube_plan

    scenes = cube_plan.select_scenes(cat, grid.bbox(), time_range or ("1970-01-01", "2100-01-01"))
    planes = parse_angle_planes(cat.granule_xml())
    if bands:
        planes = planes.where(F.col("band").isin(list(bands)))
    meta = scenes.select(
        "item_id", "solar_day", "t_order",
        F.col("utm_zone").alias("zone"), "south",
        "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax",
    )
    imgs = meta.join(planes, "item_id").select(
        "solar_day", "band", "item_id", "t_order", "bytes", "fmt", "w", "h",
        "zone", "south",
        F.col("ulx").alias("scene_x0"), F.col("uly").alias("scene_y0"),
        F.col("res").alias("scene_res"),
        "nodata", "scale", "offset",
        "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax",
    )
    assigned = tiles.assign_grid_tiles(imgs, grid)
    regridded = tiles.decode_regrid(assigned, grid)
    return tiles.mosaic_take_first(regridded)
