"""Checkpointed write / resume / metrics tests."""

import os

import pytest
from pyspark.sql import functions as F

from xcube_stac_spark import lineage, synth
from xcube_stac_spark.plans import cube as cube_plan
from xcube_stac_spark.sources.catalog import SceneCatalog

BANDS = ["B02"]
TR = ("2025-06-01", "2025-06-30")


@pytest.fixture(scope="module")
def small_cube(spark, sf0001_dir):
    grid = synth.default_grid("sf0.001")
    cat = SceneCatalog(spark, sf0001_dir)
    return cube_plan.build_cube(cat, grid, time_range=TR, bands=BANDS)


@pytest.fixture(scope="module")
def small_expected(spark, sf0001_dir):
    grid = synth.default_grid("sf0.001")
    cat = SceneCatalog(spark, sf0001_dir)
    return cube_plan.expected_partitions(cat, grid, time_range=TR, bands=BANDS)


def _digest(spark, path):
    """Per-key md5 of every stored plane."""
    return {
        (str(r.solar_day), r.band, r.tile_y, r.tile_x, r.h)
        for r in lineage.read_cube(spark, path)
        .select("solar_day", "band", "tile_y", "tile_x", F.md5(F.col("data")).alias("h"))
        .collect()
    }


def test_write_resume_roundtrip(spark, small_cube, small_expected, tmp_path):
    out = str(tmp_path / "cube")
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(mode_key)
    assert mode.upper() == "STATIC"  # no earlier write left dynamic set
    m1 = lineage.write_cube(
        small_cube, out, attrs={"bands": BANDS, "time_range": TR},
        expected_partitions=small_expected,
    )
    assert m1["written_partitions"] > 0
    # the dynamic overwrite is per write: the caller's session is unchanged
    assert spark.conf.get(mode_key) == mode
    # resume: everything committed → nothing to do
    m2 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m2["written_partitions"] == 0
    # read back equals the computed cube (keys + n_scenes)
    back = lineage.read_cube(spark, out)
    a = {(str(r.solar_day), r.band, r.tile_y, r.tile_x, r.n_scenes) for r in back.collect()}
    b = {(str(r.solar_day), r.band, r.tile_y, r.tile_x, r.n_scenes) for r in small_cube.collect()}
    assert a == b
    assert lineage.read_meta(out)["bands"] == BANDS


def test_write_cube_plan_has_no_driver_collect(small_cube, tmp_path):
    """The metrics path must stay distributed. write_cube is allowed EXACTLY
    ONE collect: the DISTINCT DAY list (one value per solar day in the run,
    used for the day-pruned read-back listing), so nothing
    partition-count-shaped crosses the driver (the VERDICT r2 scaling
    limit). Crash leftovers are hidden by the commit-aware read, not
    deleted by a stage of Python tasks."""
    import inspect

    src = inspect.getsource(lineage.write_cube)
    assert src.count(".collect()") == 1 and "toPandas" not in src
    assert "mapInPandas" not in inspect.getsource(lineage)


def test_metrics_content(spark, small_cube, small_expected, tmp_path):
    out = str(tmp_path / "cube3")
    lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    ms = lineage.metrics(out)
    assert ms and all(m["n_rows"] >= 1 and m["bytes"] > 0 for m in ms)
    assert all("lineage" in m and m["lineage"] for m in ms)


def test_write_matches_grouped_cube(spark, small_cube, small_expected, tmp_path):
    """The stored rows, plane bytes included, equal the cube, and the commit
    metrics (computed from the column-pruned read-back) equal a grouping of
    the cube's own rows per partition key."""
    out = str(tmp_path / "grouped")
    m = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    rows = small_cube.collect()

    def snap(rs):
        return {
            (str(r.solar_day), r.band, r.tile_y, r.tile_x,
             bytes(r.data), r.n_scenes, r.item_ids)
            for r in rs
        }

    assert snap(lineage.read_cube(spark, out).collect()) == snap(rows)
    groups = {}
    for r in rows:
        groups.setdefault((str(r.solar_day), r.tile_y, r.tile_x), []).append(r)
    want = {
        k: (len(g), sum(len(r.data) for r in g), sum(r.n_scenes for r in g),
            ";".join(sorted({r.item_ids for r in g})))
        for k, g in groups.items()
    }
    got = {(c["solar_day"], c["tile_y"], c["tile_x"]):
           (c["n_rows"], c["bytes"], c["n_scene_tiles"], c["lineage"])
           for c in lineage.metrics(out)}
    assert got == want
    assert m["written_partitions"] == len(want) > 0
    # metadata-only expected set == partitions actually produced
    exp = {(str(r.solar_day), r.tile_y, r.tile_x)
           for r in small_expected.collect()}
    assert exp == set(want)


def test_crash_between_data_and_commit_is_resumable(
    spark, small_cube, small_expected, tmp_path, monkeypatch
):
    """A write that dies after its data files land but before the commit
    rename records no commit and removes its staged table, and a resumed
    rerun commits every expected partition with the same stored planes as a
    clean write."""
    out = str(tmp_path / "crash")
    real_rename = os.rename

    def rename(src, dst, *a, **k):
        if lineage.COMMITLOG in str(dst).split(os.sep):
            raise OSError("injected crash before commit")
        return real_rename(src, dst, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(lineage.os, "rename", rename)
        with pytest.raises(OSError, match="injected crash"):
            lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    # the data landed, but no commit lists its keys, so readers see none
    assert any(
        f.endswith(".parquet")
        for d, _, fs in os.walk(out) if lineage.COMMITLOG not in d.split(os.sep)
        for f in fs
    )
    assert lineage.read_cube(spark, out).count() == 0
    assert not os.listdir(os.path.join(lineage._log_dir(out), "_staging"))
    assert lineage.committed_partitions(spark, out).count() == 0
    assert lineage.metrics(out) == [] and lineage.runs(out) == []

    m = lineage.write_cube(small_cube, out, resume=True, expected_partitions=small_expected)
    want = {(str(r.solar_day), r.tile_y, r.tile_x) for r in small_expected.collect()}
    got = {(str(r.solar_day), r.tile_y, r.tile_x)
           for r in lineage.committed_partitions(spark, out).collect()}
    assert got == want and m["written_partitions"] == len(want)
    clean = str(tmp_path / "clean")
    lineage.write_cube(small_cube, clean, expected_partitions=small_expected)
    assert _digest(spark, out) == _digest(spark, clean)


def test_fused_resume_skips_and_refills(spark, small_cube, small_expected, tmp_path):
    import shutil

    import pyarrow.parquet as pq

    out = str(tmp_path / "fused_resume")
    m1 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m1["written_partitions"] > 0
    # fully committed → the write exits on metadata alone (0 partitions)
    m2 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m2["written_partitions"] == 0
    # drop 3 partitions from the commit → resume recommits exactly 3
    d = lineage._log_dir(out)
    commit = [f for f in os.listdir(d) if f.startswith("commit-")][0]
    cpath = os.path.join(d, commit)
    tbl = pq.read_table(cpath)
    shutil.rmtree(cpath)
    pq.write_table(tbl.slice(0, tbl.num_rows - 3), cpath)
    m3 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m3["written_partitions"] == 3
    assert lineage.committed_partitions(spark, out).count() == tbl.num_rows


def test_fused_zero_row_write_to_fresh_store_is_graceful(spark, small_cube, small_expected, tmp_path):
    """Expected partitions are metadata-only, so a run can legitimately
    produce ZERO cube rows for a non-empty expected set (all-nodata scenes).
    On a fresh store that used to crash schema inference in the read-back;
    it must return written_partitions=0 — and honor resume=False in the
    run metrics."""
    out = str(tmp_path / "fresh_zero")
    empty = small_cube.where(F.lit(False))
    m = lineage.write_cube(
        empty, out, resume=False, expected_partitions=small_expected
    )
    assert m["written_partitions"] == 0
    assert m["resumed"] is False
    assert lineage.committed_partitions(spark, out).count() == 0


def test_concurrent_writes_commit_the_union(spark, small_cube, small_expected, tmp_path):
    """Two concurrent write_cube calls on the SAME path with DISJOINT day
    subsets: the atomic-rename publishes and dynamic partition overwrite
    must interleave without lost updates — both commits land and
    committed_partitions is the union."""
    from concurrent.futures import ThreadPoolExecutor

    out = str(tmp_path / "concurrent")
    days = sorted(str(r[0]) for r in small_expected.select("solar_day").distinct().collect())
    assert len(days) >= 2
    half_a, half_b = days[: len(days) // 2], days[len(days) // 2 :]

    def write(day_subset):
        sub = small_cube.where(F.col("solar_day").cast("string").isin(day_subset))
        exp = small_expected.where(
            F.col("solar_day").cast("string").isin(day_subset)
        )
        return lineage.write_cube(sub, out, resume=False, expected_partitions=exp)

    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(write, half_a)
        fb = pool.submit(write, half_b)
        ma, mb = fa.result(), fb.result()
    assert ma["written_partitions"] > 0 and mb["written_partitions"] > 0
    want = {(str(r.solar_day), r.tile_y, r.tile_x) for r in small_expected.collect()}
    got = {(str(r.solar_day), r.tile_y, r.tile_x)
           for r in lineage.committed_partitions(spark, out).collect()}
    assert got == want
    assert ma["written_partitions"] + mb["written_partitions"] == len(want)
    # the data itself is complete: one row set per expected partition
    back = lineage.read_cube(spark, out)
    assert {(str(r.solar_day), r.tile_y, r.tile_x)
            for r in back.select("solar_day", "tile_y", "tile_x").distinct().collect()} == want


def _first_committed_key(spark, out):
    r = lineage.committed_partitions(spark, out).orderBy(
        "solar_day", "tile_y", "tile_x"
    ).first()
    return str(r.solar_day), r.tile_y, r.tile_x


def test_full_rewrite_never_deletes_committed_dirs(
    spark, small_cube, small_expected, tmp_path
):
    """resume=False pre-clean must be restricted to expected-MINUS-committed
    keys: a committed partition whose recompute yields ZERO rows this run
    keeps its directory and data (before the fix the dir was rmtree'd up
    front, leaving the store missing data the commit log records as
    committed — silent, permanent loss on the next resume)."""
    out = str(tmp_path / "rewrite")
    m1 = lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    assert m1["written_partitions"] > 0
    day, ty, tx = _first_committed_key(spark, out)
    part_dir = os.path.join(out, f"solar_day={day}", f"tile_y={ty}", f"tile_x={tx}")
    assert os.path.isdir(part_dir)
    before = {
        (str(r.solar_day), r.band, r.tile_y, r.tile_x)
        for r in lineage.read_cube(spark, out)
        .where(
            (F.col("solar_day").cast("string") == day)
            & (F.col("tile_y") == ty)
            & (F.col("tile_x") == tx)
        )
        .collect()
    }
    assert before
    # full rewrite whose input is missing that partition's rows entirely
    sub = small_cube.where(
        ~(
            (F.col("solar_day").cast("string") == day)
            & (F.col("tile_y") == ty)
            & (F.col("tile_x") == tx)
        )
    )
    lineage.write_cube(sub, out, resume=False, expected_partitions=small_expected)
    assert os.path.isdir(part_dir), "committed dir was pre-cleaned away"
    after = {
        (str(r.solar_day), r.band, r.tile_y, r.tile_x)
        for r in lineage.read_cube(spark, out)
        .where(
            (F.col("solar_day").cast("string") == day)
            & (F.col("tile_y") == ty)
            & (F.col("tile_x") == tx)
        )
        .collect()
    }
    assert after == before


def test_uncommitted_crash_leftovers_stay_invisible(
    spark, small_cube, small_expected, tmp_path, monkeypatch
):
    """A crashed write leaves real data files in every key it wrote. A
    resume whose input lacks one of those keys yields zero rows there: the
    key must stay uncommitted and hidden from read_cube (the read-back keeps
    only the resuming run's rows, so the crashed run's files never enter a
    commit)."""
    out = str(tmp_path / "crashpc")
    real_rename = os.rename

    def rename(src, dst, *a, **k):
        if lineage.COMMITLOG in str(dst).split(os.sep):
            raise OSError("injected crash before commit")
        return real_rename(src, dst, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(lineage.os, "rename", rename)
        with pytest.raises(OSError, match="injected crash"):
            lineage.write_cube(small_cube, out, expected_partitions=small_expected)
    r = small_expected.orderBy("solar_day", "tile_y", "tile_x").first()
    day, ty, tx = str(r.solar_day), r.tile_y, r.tile_x
    leftover = os.path.join(out, f"solar_day={day}", f"tile_y={ty}", f"tile_x={tx}")
    assert any(f.endswith(".parquet") for f in os.listdir(leftover))
    is_key = (
        (F.col("solar_day").cast("string") == day)
        & (F.col("tile_y") == ty)
        & (F.col("tile_x") == tx)
    )
    m = lineage.write_cube(
        small_cube.where(~is_key), out, expected_partitions=small_expected
    )
    committed = {
        (str(c.solar_day), c.tile_y, c.tile_x)
        for c in lineage.committed_partitions(spark, out).collect()
    }
    assert committed and (day, ty, tx) not in committed
    assert lineage.read_cube(spark, out).where(is_key).count() == 0
    assert m["written_partitions"] == len(committed)
