"""Param-validation seam + CombinedMultiLevelDataset composition."""

import pytest

from xcube_stac_spark.params import ParamValidationError, validate_open_params


def test_validate_accepts_good_params():
    validate_open_params(
        bbox=(11.0, 49.0, 12.0, 50.0),
        time_range=("2025-06-01", "2025-06-30 23:59:59"),
        bands=["B02", "B03"],
        collections=["syn-l2a"],
        query={"orbit_state": ["descending"]},
    )
    validate_open_params()  # everything optional


@pytest.mark.parametrize(
    "kwargs, match",
    [
        (dict(bbox=(1.0, 2.0, 3.0)), "bbox.*items"),
        (dict(bbox=(12.0, 49.0, 11.0, 50.0)), "xmin.*xmax"),
        (dict(bbox=(11.0, 50.0, 12.0, 49.0)), "ymin.*ymax"),
        (dict(bbox=(11.0, -95.0, 12.0, 50.0)), r"\[-90, 90\]"),
        (dict(bbox=(11.0, "a", 12.0, 50.0)), "number"),
        (dict(time_range=("2025-06-30", "2025-06-01")), "after end"),
        # mixed tz-aware start + naive end: ordering error, never a TypeError
        (dict(time_range=("2025-06-30T00:00:00Z", "2025-06-01 12:00:00")), "after end"),
        (dict(time_range=("not-a-date", "2025-06-01")), "ISO"),
        (dict(time_range=("2025-06-01",)), "items"),
        (dict(bands=[]), "items"),
        (dict(bands=[""]), "empty"),
        (dict(bands=[42]), "string"),
        (dict(query={"orbit_state": "descending"}), "list of allowed"),
        (dict(query="orbit_state=descending"), "mapping"),
    ],
)
def test_validate_rejects_bad_params(kwargs, match):
    with pytest.raises(ParamValidationError, match=match):
        validate_open_params(**kwargs)


def test_build_cube_validates_at_entry(spark, sf0001_dir):
    from xcube_stac_spark import synth
    from xcube_stac_spark.plans import cube as cube_plan
    from xcube_stac_spark.sources.catalog import SceneCatalog

    cat = SceneCatalog(spark, sf0001_dir)
    grid = synth.default_grid("sf0.001")
    with pytest.raises(ParamValidationError, match="time_range"):
        cube_plan.build_cube(cat, grid, time_range=("2025-07-01", "2025-06-01"))
    with pytest.raises(ParamValidationError, match="bands"):
        cube_plan.build_cube(cat, grid, bands=[123])
    # the partition keys share build_cube's validated metadata prelude
    with pytest.raises(ParamValidationError, match="bbox"):
        cube_plan.expected_partitions(cat, grid, bbox=(12.0, 49.0, 11.0, 50.0))


def test_combine_pyramids_precedence(spark):
    from xcube_stac_spark.operators import pyramid as pyr_op

    ddl = "level int, solar_day date, band string, tile_y int, tile_x int, data binary, valid_frac double"
    p1 = spark.createDataFrame(
        [(0, None, "B02", 0, 0, b"one", 0.5), (0, None, "B02", 0, 1, b"x", 0.25)], ddl
    )
    p2 = spark.createDataFrame(
        [(0, None, "B02", 0, 0, b"two", 0.9), (0, None, "B03", 0, 0, b"y", 1.0)], ddl
    )
    first = {
        (r.band, r.tile_y, r.tile_x): bytes(r.data)
        for r in pyr_op.combine_pyramids([p1, p2]).collect()
    }
    assert first[("B02", 0, 0)] == b"one"  # collision: first input wins
    assert first[("B03", 0, 0)] == b"y"  # disjoint variables union
    assert len(first) == 3
    last = {
        (r.band, r.tile_y, r.tile_x): bytes(r.data)
        for r in pyr_op.combine_pyramids([p1, p2], on_conflict="last").collect()
    }
    assert last[("B02", 0, 0)] == b"two"
    with pytest.raises(ValueError, match="on_conflict"):
        pyr_op.combine_pyramids([p1], on_conflict="mean")
