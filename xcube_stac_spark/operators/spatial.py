"""Spatial search / join / grouping operators over the scenes table.

Re-expresses the reference's item-search and grouping logic (SURVEY §2.2-2.3)
as DataFrame transformations:

* ``search_scenes`` — the bbox/time/collection/query predicate set the
  reference pushes to the STAC API (store.py:577-595) or nested-loops
  client-side (utils.py:93-140). Here it is one ``where`` chain Catalyst
  pushes into the parquet/Iceberg scan (min/max pruning does the
  "server-side" part).
* ``cover_with_cells`` / ``spatial_join_region`` — the two-stage spatial
  join (J1): coarse equi-join on covering cell ids (broadcast when the
  query side is small, salted/AQE sort-merge otherwise) + exact
  point-in-polygon refine in an Arrow UDF (J1b).
* ``dedup_latest_version`` — the (solar day, tile, max proc version) window
  dedup (J2/A4; sen2.py:563-643 esp. :617-623).
* ``knn_scenes`` — k nearest scenes to a point (J4; sen2.py:483-492
  generalizes k=1 → k).
* ``bbox_union`` — envelope aggregation (A5; sen2.py:1169-1198).
* ``lineage_per_time`` — per-time contributing item lists (A8;
  utils.py:938-947).

Scale notes (100 TB): the scenes table at 10^12 items is partitioned by
(collection, solar_day-month) and sorted by cell id; every predicate here is
a pure Column expression → full pushdown + partition pruning. The cell join
explodes footprint covers (bounded: a scene covers O(10) level-9 cells) and
joins on a single long key — broadcast for region queries, sort-merge with
AQE skew splitting for planet-wide joins.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_stac_spark import functions as X
from xcube_stac_spark import cells as cells_mod
from xcube_stac_spark import geom as geom_mod


# ---------------------------------------------------------------------------
# search (S4/S5/S6 + F1/F2/F5)
# ---------------------------------------------------------------------------

def search_scenes(
    scenes: DataFrame,
    bbox: Sequence[float] | None = None,
    time_range: tuple[str, str] | None = None,
    collections: Iterable[str] | None = None,
    query: dict[str, Sequence[str]] | None = None,
    drop_antimeridian_bugs: bool = True,
) -> DataFrame:
    """The full STAC-search predicate set as one pushdown-friendly filter
    chain (reference store.py:577-595 + utils.py:93-140 + sen2.py:368-374).

    ``query`` mirrors the STAC query extension's {"prop": ["val", ...]}
    equality-in form (e.g. {"sat:orbit_state": ["descending"]}).
    """
    df = scenes
    if collections:
        df = df.where(F.col("collection").isin(list(collections)))
    if bbox is not None:
        df = df.where(
            X.bbox_intersects(
                F.col("bbox_xmin"), F.col("bbox_ymin"),
                F.col("bbox_xmax"), F.col("bbox_ymax"),
                bbox[0], bbox[1], bbox[2], bbox[3],
            )
        )
    if time_range is not None:
        df = df.where(
            X.time_in_range(
                F.col("datetime"), F.col("start_datetime"), F.col("end_datetime"),
                time_range[0], time_range[1],
            )
        )
    if query:
        for prop, vals in query.items():
            df = df.where(F.col(prop).isin(list(vals)))
    if drop_antimeridian_bugs:
        df = df.where(X.antimeridian_ok(F.col("bbox_xmin"), F.col("bbox_xmax")))
    return df


# ---------------------------------------------------------------------------
# J1 coarse: cell covering + equi-join
# ---------------------------------------------------------------------------

_COVER_SCHEMA = T.ArrayType(T.LongType())


def _cover_footprint_udf(level: int):
    @F.pandas_udf(_COVER_SCHEMA)
    def cover(footprints: pd.Series) -> pd.Series:
        out = []
        for ring in footprints:
            lons = np.array([p["lon"] for p in ring])
            lats = np.array([p["lat"] for p in ring])
            out.append(cells_mod.cover_polygon(lons, lats, level).tolist())
        return pd.Series(out)

    return cover


def cover_with_cells(
    scenes: DataFrame, level: int = cells_mod.DEFAULT_LEVEL, exact: bool = False
) -> DataFrame:
    """Add an exploded ``cell`` column covering each scene's footprint.

    ``exact=False`` (default): pure-SQL bbox cover (sequence+flatten — zero
    Python, full codegen). ``exact=True``: polygon-exact cover via a pandas
    UDF (fewer false-positive cells for strongly rotated swath footprints —
    the J6/F12 analogue; costs an Arrow hop).
    """
    if exact:
        cov = _cover_footprint_udf(level)(F.col("footprint"))
    else:
        cov = X.bbox_cells_expr(
            F.col("bbox_xmin"), F.col("bbox_ymin"),
            F.col("bbox_xmax"), F.col("bbox_ymax"), level,
        )
    return scenes.withColumn("cell", F.explode(cov))


def region_cells_df(
    spark, bbox: Sequence[float], level: int = cells_mod.DEFAULT_LEVEL
) -> DataFrame:
    """Tiny DataFrame of cell ids covering the query region (broadcast side)."""
    ids = cells_mod.cover_bbox(bbox[0], bbox[1], bbox[2], bbox[3], level)
    return spark.createDataFrame([(int(c),) for c in ids], "cell long")


MAX_LITERAL_REGION_CELLS = 256

#: coarse cell level of the at-rest scenes layout: 2.8125° cells, 8192
#: worldwide — enough directories that a regional probe prunes hard, few
#: enough that the partition listing stays trivial at any catalog size
SCENE_LAYOUT_LEVEL = 6


def write_scene_layout(
    scenes: DataFrame, path: str, level: int = SCENE_LAYOUT_LEVEL
) -> None:
    """Materialize the at-rest SPATIAL layout of the scenes table: every
    scene row is written under EACH coarse level-``level`` cell its bbox
    covers (bounded duplication: a scene footprint spans O(1) cells at
    2.8°), partitioned by that cell id.

    A bbox probe (probe_scene_layout) then reads ONLY the covering-cell
    directories — a statically partition-pruned scan with the fine search
    predicates pushed into it; no join, no shuffle, no full-catalog pass.
    This is the 100-TB resting shape the reference's client-side item scan
    (utils.py:93-140 nested loops) cannot express."""
    import json
    import os

    (
        cover_with_cells(scenes, level).withColumnRenamed("cell", "pcell")
        .repartition("pcell")
        .write.mode("overwrite")
        .partitionBy("pcell")
        .parquet(path)
    )
    with open(os.path.join(path, "_layout_meta.json"), "w") as f:
        json.dump({"level": level}, f)


def append_scene_layout(scenes_new: DataFrame, path: str) -> None:
    """INCREMENTAL maintenance of the at-rest spatial layout: new scene
    rows (e.g. a newly ingested day) are exploded to their covering cells
    at the layout's level and APPENDED into the pcell partition directories
    in one write — existing files are never rewritten or touched, so a
    daily ingest costs O(new scenes), not O(catalog). Probes are
    unchanged: a partition dir simply accumulates one file set per
    append."""
    import json
    import os

    with open(os.path.join(path, "_layout_meta.json")) as f:
        level = json.load(f)["level"]
    (
        cover_with_cells(scenes_new, level).withColumnRenamed("cell", "pcell")
        .repartition("pcell")
        .write.mode("append")
        .partitionBy("pcell")
        .parquet(path)
    )


def probe_scene_layout(
    spark,
    path: str,
    bbox: Sequence[float],
    time_range: tuple[str, str] | None = None,
    collections: Iterable[str] | None = None,
    query: dict[str, Sequence[str]] | None = None,
) -> DataFrame:
    """Search the at-rest layout: covering cells become STATIC partition
    predicates (PartitionFilters in the scan — asserted by test), then the
    ordinary search predicate chain refines. A scene spanning several
    covering cells appears once per cell directory, so the probe dedups on
    item_id. Result rows equal search_scenes over the base table."""
    import json
    import os

    with open(os.path.join(path, "_layout_meta.json")) as f:
        level = json.load(f)["level"]
    cells = cells_mod.cover_bbox(bbox[0], bbox[1], bbox[2], bbox[3], level)
    df = (
        spark.read.parquet(path)
        .where(F.col("pcell").isin([int(c) for c in cells]))
        .drop("pcell")
    )
    return search_scenes(
        df, bbox=bbox, time_range=time_range, collections=collections, query=query
    ).dropDuplicates(["item_id"])


def spatial_join_region(
    scenes: DataFrame,
    bbox: Sequence[float],
    level: int = cells_mod.DEFAULT_LEVEL,
    refine: str = "bbox",
) -> DataFrame:
    """Scene<->region spatial join (J1): coarse cell-key match, then exact
    refine.

    Coarse stage picks its physical shape by region size:
    * small region (<= MAX_LITERAL_REGION_CELLS covering cells): MAP-ONLY
      ``arrays_overlap`` between the scene's covering-cell array and a
      literal cell array — zero shuffles, fully pipelined into the scan.
    * large region: explode + broadcast semi-join on the cell id (and at
      planetary scale, the salted variant ``salted_cell_join``).

    refine="bbox": envelope overlap (exact for the region side since the
    region IS a bbox) — pure SQL.
    refine="pip": additionally require a footprint-vs-region polygon
    intersection via the exact predicate (for curved/rotated footprints
    whose envelope overlaps but geometry misses).
    refine="none": coarse result (candidates only).
    """
    region_cells = cells_mod.cover_bbox(bbox[0], bbox[1], bbox[2], bbox[3], level)
    if region_cells.size <= MAX_LITERAL_REGION_CELLS:
        cover = X.bbox_cells_expr(
            F.col("bbox_xmin"), F.col("bbox_ymin"),
            F.col("bbox_xmax"), F.col("bbox_ymax"), level,
        )
        lit_cells = F.array(*[F.lit(int(c)) for c in region_cells])
        cands = scenes.where(F.arrays_overlap(cover, lit_cells))
    else:
        cands = (
            cover_with_cells(scenes, level)
            .join(
                F.broadcast(region_cells_df(scenes.sparkSession, bbox, level)),
                "cell", "left_semi",
            )
            .dropDuplicates(["item_id"])
            .drop("cell")
        )
    if refine in ("bbox", "pip"):
        cands = cands.where(
            X.bbox_intersects(
                F.col("bbox_xmin"), F.col("bbox_ymin"),
                F.col("bbox_xmax"), F.col("bbox_ymax"),
                bbox[0], bbox[1], bbox[2], bbox[3],
            )
        )
    if refine == "pip":
        cands = cands.where(footprint_intersects_bbox_udf(bbox)(F.col("footprint")))
    return cands


def footprint_intersects_bbox_udf(bbox: Sequence[float]):
    """Exact footprint-polygon vs query-bbox predicate (J1b refine) as a
    vectorized pandas UDF — NumPy rect-vs-polygon per footprint."""
    xmin, ymin, xmax, ymax = [float(v) for v in bbox]

    @F.pandas_udf(T.BooleanType())
    def pred(footprints: pd.Series) -> pd.Series:
        out = np.empty(len(footprints), dtype=bool)
        for i, ring in enumerate(footprints):
            lons = np.array([p["lon"] for p in ring])
            lats = np.array([p["lat"] for p in ring])
            out[i] = geom_mod.polygon_intersects_rect(lons, lats, xmin, ymin, xmax, ymax)
        return pd.Series(out)

    return pred


def salted_cell_join(
    big: DataFrame,
    small: DataFrame,
    on: str = "cell",
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join on a hot key: the BIG side appends
    ``pmod(hash(<all cols>), salt)`` to the key; the SMALL side explodes
    every row into all ``salt`` variants. Hot cells (a megacity cell with
    10^6 scenes) split into ``salt`` reduce tasks instead of one straggler.

    AQE's skew-join split covers sort-merge joins at runtime; this explicit
    variant exists for (a) broadcast-ineligible small sides, (b) engines/
    configs without AQE, and (c) deterministic task sizing at the 10^12-row
    scale where the planner's stats go stale. Salt=8 multiplies the small
    side 8x — use only when the small side is genuinely small.

    Only inner/left/left_semi joins are supported: the salt-explode
    replicates every small-side row ``salt`` times, so right/full outer
    would emit each UNMATCHED small-side row once per salt value."""
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_cell_join supports inner/left/left_semi, not {how!r} "
            "(salt-explode breaks right/full outer semantics)"
        )
    big_s = big.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(salt))
    )
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = big_s.join(small_s, [on, "__salt"], how)
    return out.drop("__salt")


# ---------------------------------------------------------------------------
# J2: (solar day, tile) grouping + latest-processing-version dedup
# ---------------------------------------------------------------------------

def with_solar_day(scenes: DataFrame) -> DataFrame:
    """Nominal (solar) acquisition day from bbox-center lon — C6
    (utils.py:354-371, :573-591)."""
    nominal = X.nominal_datetime(
        F.col("datetime"), F.col("start_datetime"), F.col("end_datetime")
    )
    center_lon = X.bbox_center_lon(F.col("bbox_xmin"), F.col("bbox_xmax"))
    return scenes.withColumn("nominal_datetime", nominal).withColumn(
        "solar_day", X.solar_day(F.col("nominal_datetime"), center_lon)
    )


def dedup_latest_version(scenes: DataFrame) -> DataFrame:
    """Keep only items of the LATEST processing version within each
    (solar_day, tile_id) group — reference ``_group_items``'s version axis
    argmax (sen2.py:595-597, :617-623). Items of that version co-exist (same
    day, multiple acquisitions) and flow on to the mosaic.

    Implemented as a max-over-window + filter: no shuffle beyond the one
    groupBy-key exchange; Catalyst places it before any pixel work so pixels
    of superseded versions are NEVER decoded (dedup-before-work, SURVEY §4).
    """
    df = with_solar_day(scenes)
    w = Window.partitionBy("solar_day", "tile_id")
    return (
        df.withColumn("max_proc_version", F.max("proc_version").over(w))
        .where(F.col("proc_version") == F.col("max_proc_version"))
        .drop("max_proc_version")
    )


# ---------------------------------------------------------------------------
# J4: kNN scenes/tiles to a point
# ---------------------------------------------------------------------------

#: Auto-pruning gate: upstream scans of at most this many files skip the
#: histogram pass (its extra Spark job costs more than the global top-k it
#: avoids at small corpora — measured 0.28→0.52 s at sf0.1).
KNN_PRUNE_MIN_FILES = 8


def knn_scenes(
    scenes: DataFrame,
    lon: float,
    lat: float,
    k: int = 1,
    level: int = cells_mod.DEFAULT_LEVEL,
    prune: bool | None = None,
) -> DataFrame:
    """k nearest scene tiles to a query point by squared center distance
    (reference k=1 argmin at sen2.py:483-492). Distinct tiles ranked by
    distance; ties broken by tile_id for determinism.

    Scale path (two passes, no global window): pass 1 aggregates a tiny
    histogram of tile counts per power-of-two CELL RING (Chebyshev distance
    in level-``level`` cells from the query point's cell) and picks the
    smallest ring radius r whose cumulative count >= k; every tile inside
    ring r is within sqrt(2)*(r+1)*cell_size degrees, and every tile OUTSIDE
    ring R is at least (R)*cell_size away, so candidates pruned to
    ring <= R = ceil(sqrt(2)*(r+1)) + 1 provably contain the global top-k.
    Pass 2 ranks only those candidates via a distributed ``orderBy.limit(k)``
    (TakeOrderedAndProject — per-partition top-k, no single-task window).
    On a cell-partitioned scenes layout the ring filter partition-prunes, so
    no task ever sees the global tile list. Result is IDENTICAL to the
    unpruned ranking (the pruning bound is lossless), which is what the
    DuckDB oracle checks.

    ``prune``: None (default) auto-gates the histogram pass on a cheap size
    signal — the upstream scan's file count (driver-side listing, no job).
    Small catalogs (≤ KNN_PRUNE_MIN_FILES files, incl. in-memory inputs)
    go straight to the distributed ``orderBy.limit(k)``, whose
    TakeOrderedAndProject is already per-partition top-k and cheaper than
    an extra job at that size. True/False force either path; the result is
    identical in all three modes (lossless bound, pinned by test)."""
    size = cells_mod.cell_size_deg(level)
    ncols = cells_mod.n_cols(level)
    nrows = 1 << level
    qcx = min(max(int((lon + 180.0) // size), 0), ncols - 1)
    qcy = min(max(int((lat + 90.0) // size), 0), nrows - 1)
    d2 = (
        (X.bbox_center_lon(F.col("bbox_xmin"), F.col("bbox_xmax")) - F.lit(lon)) ** 2
        + (X.bbox_center_lat(F.col("bbox_ymin"), F.col("bbox_ymax")) - F.lit(lat)) ** 2
    )
    clon = X.bbox_center_lon(F.col("bbox_xmin"), F.col("bbox_xmax"))
    clat = X.bbox_center_lat(F.col("bbox_ymin"), F.col("bbox_ymax"))
    ccx = F.least(
        F.greatest(F.floor((clon + 180.0) / size), F.lit(0)), F.lit(ncols - 1)
    )
    ccy = F.least(
        F.greatest(F.floor((clat + 90.0) / size), F.lit(0)), F.lit(nrows - 1)
    )
    ring = F.greatest(F.abs(ccx - F.lit(qcx)), F.abs(ccy - F.lit(qcy)))
    tiles = (
        scenes.groupBy("tile_id")
        .agg(
            F.min("bbox_xmin").alias("bbox_xmin"),
            F.min("bbox_ymin").alias("bbox_ymin"),
            F.max("bbox_xmax").alias("bbox_xmax"),
            F.max("bbox_ymax").alias("bbox_ymax"),
        )
        .withColumn("dist2", d2)
        .withColumn("_ring", ring)
    )
    if prune is None:
        try:
            prune = len(scenes.inputFiles()) > KNN_PRUNE_MIN_FILES
        except Exception:  # pragma: no cover - exotic relations without files
            prune = True
    if prune:
        # pass 1: O(log worldsize)-row histogram — the only driver-side data
        hist = (
            tiles.groupBy(
                F.ceil(F.log2(F.greatest(F.col("_ring"), F.lit(1)))).alias("b")
            )
            .count()
            .collect()
        )
        world_r = max(ncols, nrows)
        r_needed = world_r
        cum = 0
        for row in sorted(hist, key=lambda r: r["b"]):
            cum += row["count"]
            if cum >= k:
                r_needed = 1 << int(row["b"])
                break
        R = min(world_r, int(np.ceil(np.sqrt(2.0) * (r_needed + 1))) + 1)
        cand = tiles.where(F.col("_ring") <= R).drop("_ring")
    else:
        cand = tiles.drop("_ring")
    # pass 2: distributed top-k, then rank the <= k survivors
    top = cand.orderBy(F.col("dist2").asc(), F.col("tile_id").asc()).limit(k)
    w = Window.orderBy(F.col("dist2").asc(), F.col("tile_id").asc())
    return top.withColumn("knn_rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# A5 / A8
# ---------------------------------------------------------------------------

def bbox_union(scenes: DataFrame, group_cols: Sequence[str] = ("tile_id",)) -> DataFrame:
    """Envelope of all scenes per group (sen2.py:1169-1198)."""
    return scenes.groupBy(*group_cols).agg(
        F.min("bbox_xmin").alias("xmin"),
        F.min("bbox_ymin").alias("ymin"),
        F.max("bbox_xmax").alias("xmax"),
        F.max("bbox_ymax").alias("ymax"),
        F.count("*").alias("n_scenes"),
    )


def lineage_per_time(scenes: DataFrame) -> DataFrame:
    """solar_day → sorted list of contributing item ids (utils.py:938-947);
    emitted as a deterministic comma-joined string for oracle comparison."""
    df = scenes if "solar_day" in scenes.columns else with_solar_day(scenes)
    return df.groupBy("solar_day").agg(
        F.array_join(F.array_sort(F.collect_list("item_id")), ",").alias("item_ids"),
        F.count("*").alias("n_items"),
    )
