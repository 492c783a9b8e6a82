"""Spatial operators + SQL-expression parity with the NumPy cell index."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_stac_spark import cells
from xcube_stac_spark import functions as X
from xcube_stac_spark.operators import spatial
from xcube_stac_spark.sources.catalog import SceneCatalog


@pytest.fixture(scope="module")
def cat(spark, sf001_dir):
    return SceneCatalog(spark, sf001_dir)


def test_cell_id_expr_matches_numpy(spark):
    rng = np.random.default_rng(0)
    lons = rng.uniform(-179.9, 179.9, 500)
    lats = rng.uniform(-89.9, 89.9, 500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)], "lon double, lat double"
    )
    got = (
        df.withColumn("cell", X.cell_id_expr(F.col("lon"), F.col("lat")))
        .orderBy("lon")
        .collect()
    )
    order = np.argsort(lons, kind="stable")
    exp = cells.cell_id(lons[order], lats[order])
    assert [r.cell for r in got] == exp.tolist()


def test_bbox_cells_expr_matches_numpy(spark):
    bboxes = [(10.1, 48.7, 13.4, 50.9), (-1.0, -1.0, 1.0, 1.0), (5.0, 5.0, 5.0, 5.0)]
    df = spark.createDataFrame(bboxes, "xmin double, ymin double, xmax double, ymax double")
    rows = df.withColumn(
        "cells",
        X.bbox_cells_expr(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")),
    ).collect()
    for r in rows:
        exp = cells.cover_bbox(r.xmin, r.ymin, r.xmax, r.ymax)
        assert sorted(r.cells) == sorted(exp.tolist())


def test_search_scenes_filters(cat):
    # whole-world search minus the antimeridian bug item
    all_items = spatial.search_scenes(cat.scenes()).count()
    raw = cat.scenes().count()
    assert all_items == raw - 1  # the _XAM fixture dropped
    # narrow bbox around one corner of the world
    few = spatial.search_scenes(cat.scenes(), bbox=[10.6, 48.95, 10.9, 49.2]).count()
    assert 0 < few < all_items
    # time range reduces
    oneday = spatial.search_scenes(
        cat.scenes(), time_range=("2025-06-02", "2025-06-02 23:59:59")
    ).count()
    assert 0 < oneday < all_items
    # query-extension property filter
    desc = spatial.search_scenes(cat.scenes(), query={"orbit_state": ["descending"]})
    assert 0 < desc.count() < all_items
    assert desc.select("orbit_state").distinct().collect()[0][0] == "descending"


def test_spatial_join_region_matches_bruteforce(cat, sf001_dir):
    import pyarrow.parquet as pq

    bbox = [11.4, 49.3, 12.3, 50.0]
    got = {
        r.item_id
        for r in spatial.spatial_join_region(cat.scenes(), bbox, refine="pip").collect()
    }
    pdf = pq.read_table(f"{sf001_dir}/scenes.parquet").to_pandas()
    exp = set()
    for r in pdf.itertuples(index=False):
        if abs(r.bbox_xmax - r.bbox_xmin) >= 20:
            continue  # engine's cover explodes bbox cells incl. bug items,
            # but those still intersect; spatial_join doesn't drop them —
        if not (
            r.bbox_xmax < bbox[0]
            or r.bbox_xmin > bbox[2]
            or r.bbox_ymax < bbox[1]
            or r.bbox_ymin > bbox[3]
        ):
            exp.add(r.item_id)
    # brute force over non-buggy items must be a subset of the join result;
    # the buggy item may or may not appear (its envelope covers everything)
    assert exp == {i for i in got if not i.endswith("_XAM")}


def test_dedup_latest_version(cat):
    dd = spatial.dedup_latest_version(spatial.search_scenes(cat.scenes()))
    pairs = (
        dd.groupBy("solar_day", "tile_id")
        .agg(F.countDistinct("proc_version").alias("nv"))
        .where(F.col("nv") > 1)
        .count()
    )
    assert pairs == 0
    # groups that had a 05.11 version kept only 05.11
    kept = dd.where(F.col("item_id").contains("_0511")).count()
    assert kept > 0
    base_of_kept = (
        dd.alias("a")
        .where(F.col("a.proc_version") == "05.00")
        .join(
            dd.alias("b").where(F.col("b.proc_version") == "05.11"),
            (F.col("a.solar_day") == F.col("b.solar_day"))
            & (F.col("a.tile_id") == F.col("b.tile_id")),
        )
        .count()
    )
    assert base_of_kept == 0


def test_knn_scenes(cat):
    k3 = spatial.knn_scenes(cat.scenes(), lon=12.0, lat=49.5, k=3).collect()
    assert len(k3) == 3
    assert [r.knn_rank for r in k3] == [1, 2, 3]
    d = [r.dist2 for r in k3]
    assert d == sorted(d)


def test_knn_pruning_is_lossless_and_bounded(spark):
    """Cell-ring pruning: result identical to the brute-force global ranking,
    AND the ranked candidate set is ring-bounded (no task sees the global
    tile list) on a world of widely-scattered tiles."""
    rng = np.random.default_rng(11)
    lons = rng.uniform(-170.0, 170.0, 400)
    lats = rng.uniform(-80.0, 80.0, 400)
    rows = [
        (f"T{i:04d}", float(lo), float(la), float(lo) + 0.5, float(la) + 0.5)
        for i, (lo, la) in enumerate(zip(lons, lats))
    ]
    df = spark.createDataFrame(
        rows,
        "tile_id string, bbox_xmin double, bbox_ymin double, "
        "bbox_xmax double, bbox_ymax double",
    )
    qlon, qlat, k = 12.0, 49.0, 7
    got = spatial.knn_scenes(df, qlon, qlat, k=k, prune=True).collect()
    # independent brute-force expectation
    cx, cy = lons + 0.25, lats + 0.25
    d2 = (cx - qlon) ** 2 + (cy - qlat) ** 2
    order = sorted(range(400), key=lambda i: (d2[i], f"T{i:04d}"))[:k]
    assert [r.tile_id for r in got] == [f"T{i:04d}" for i in order]
    assert [r.knn_rank for r in got] == list(range(1, k + 1))
    np.testing.assert_allclose([r.dist2 for r in got], [d2[i] for i in order])
    # boundedness: the optimized plan carries the ring filter (candidates
    # are pruned BEFORE the top-k, not ranked globally)
    plan = (
        spatial.knn_scenes(df, qlon, qlat, k=k, prune=True)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "greatest(abs(" in plan  # the Chebyshev ring filter, inlined by Catalyst
    # the auto gate skips the histogram job for small/in-memory inputs —
    # same result, no ring filter in the plan
    auto = spatial.knn_scenes(df, qlon, qlat, k=k).collect()
    assert [r.tile_id for r in auto] == [r.tile_id for r in got]
    plan_auto = (
        spatial.knn_scenes(df, qlon, qlat, k=k)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "greatest(abs(" not in plan_auto


def test_bbox_union_and_lineage(cat):
    bu = spatial.bbox_union(spatial.search_scenes(cat.scenes())).collect()
    assert len(bu) == 18  # 2 zones x 9 tiles
    for r in bu:
        assert r.xmin < r.xmax and r.ymin < r.ymax
    lin = spatial.lineage_per_time(spatial.search_scenes(cat.scenes())).collect()
    assert all(r.item_ids == ",".join(sorted(r.item_ids.split(","))) for r in lin)


def test_collections_metadata(cat):
    rows = cat.collections().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.collection == "syn-l2a" and r.n_items > 0 and r.xmin < r.xmax


def test_scene_layout_probe_prunes_and_matches_search(spark, cat, tmp_path):
    """At-rest spatial layout: probe result == search_scenes over the base
    table, and the probe's scan is statically partition-pruned (pcell
    PartitionFilters, fewer dirs read than exist)."""
    import io
    import os
    import re
    from contextlib import redirect_stdout

    from xcube_stac_spark.operators import spatial as sp

    path = str(tmp_path / "scene_layout")
    sp.write_scene_layout(cat.scenes(), path)
    bbox = [11.0, 49.0, 12.5, 50.0]
    tr = ("2025-06-02", "2025-06-20")
    got = sp.probe_scene_layout(spark, path, bbox, time_range=tr)
    exp = sp.search_scenes(cat.scenes(), bbox=bbox, time_range=tr)
    assert sorted(r.item_id for r in got.collect()) == sorted(
        r.item_id for r in exp.collect()
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "pcell" in plan
    n_dirs = sum(1 for d in os.listdir(path) if d.startswith("pcell="))
    m = re.search(r"partitions read: (\d+)", plan)
    if m:
        assert int(m.group(1)) <= n_dirs
    # the probe's fine predicates are pushed into the pruned scan too
    assert "PushedFilters: [" in plan


def test_salted_cell_join_bounds_hot_cell_tasks(spark):
    """Skewed world: one hot cell at ~50x the density of every other cell
    (a megacity tile). Forced to a shuffle join with AQE's skew splitter
    off (it needs multi-MB partitions to trigger; row-count skew at
    catalog-metadata widths flies under it), the UNSALTED join funnels the
    whole hot cell through one reduce task while the salted join splits it
    ``salt`` ways — same result rows, bounded max task input."""
    from xcube_stac_spark.operators import spatial as sp

    hot_cell, n_hot, n_cold_cells = 7, 20_000, 100
    big = spark.range(n_hot).select(
        F.lit(hot_cell).alias("cell"), F.col("id").alias("item")
    ).unionAll(
        spark.range(4 * n_cold_cells).select(
            (F.col("id") % n_cold_cells + 1000).alias("cell").cast("int").alias("cell"),
            (F.col("id") + n_hot).alias("item"),
        )
    )
    small = spark.range(n_cold_cells + 1).select(
        F.when(F.col("id") == 0, hot_cell)
        .otherwise(F.col("id") - 1 + 1000)
        .cast("int").alias("cell")
    )
    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")

        def max_task_rows(df):
            sizes = (
                df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid").count().collect()
            )
            return max(r["count"] for r in sizes)

        plain = big.join(small, "cell")
        salted = sp.salted_cell_join(big, small, on="cell", salt=8)
        assert plain.count() == salted.count() == n_hot + 4 * n_cold_cells
        m_plain, m_salt = max_task_rows(plain), max_task_rows(salted)
        # unsalted: the whole hot cell in one task; salted: split 8 ways
        assert m_plain >= n_hot
        assert m_salt <= n_hot / 4
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_salted_cell_join_rejects_outer(spark):
    import pytest as _pytest

    from xcube_stac_spark.operators import spatial as sp

    big = spark.createDataFrame([(1, "a")], "cell int, x string")
    small = spark.createDataFrame([(1,)], "cell int")
    with _pytest.raises(ValueError, match="salted_cell_join supports"):
        sp.salted_cell_join(big, small, how="full")
    with _pytest.raises(ValueError, match="salted_cell_join supports"):
        sp.salted_cell_join(big, small, how="right")


def test_salted_query_path_equals_broadcast_path(spark):
    """The retired-from-driver salted query (registry capped at 50) stays
    pinned here: the salted equi-join produces exactly the broadcast
    path's rows."""
    import __spark_entry__ as em
    from xcube_stac_spark import synth

    sdir = synth.generate("sf0.01")
    a = {tuple(r) for r in em._q_salted_spatial_join(spark, sdir).collect()}
    b = {tuple(r) for r in em._q_spatial_join_region(spark, sdir).collect()}
    assert a == b and a
