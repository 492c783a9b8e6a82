"""Per-solar-day checkpointed job: equivalence with the single-call build
and crash-resume behavior (jobs/build_cube_job.py --per-day).

The per-day split is the commit-log contract's fine-grained mode
(lineage.write_cube docstring): each day is one atomic write call, so a
killed run resumes by SKIPPING completed days at plan time. The sf1.0
scale-headroom run (BENCH/headroom.py) exercises the same path with a real
SIGKILL; this test pins the semantics at sf0.001 with an injected crash.
"""

import importlib.util
import json
import os

import pytest
from pyspark.sql import functions as F

from xcube_stac_spark import lineage, synth
from xcube_stac_spark.plans import cube as cube_plan
from xcube_stac_spark.sources.catalog import SceneCatalog

BANDS = ["B02"]
TR = ("2025-06-01", "2025-06-30")


def _load_job():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "build_cube_job.py")
    spec = importlib.util.spec_from_file_location("build_cube_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _cube_digest(spark, path):
    return {
        (str(r.solar_day), r.band, r.tile_y, r.tile_x, r.h)
        for r in lineage.read_cube(spark, path)
        .select("solar_day", "band", "tile_y", "tile_x", F.md5(F.col("data")).alias("h"))
        .collect()
    }


def _write_reference(cat, grid, out):
    """The single-call build of the whole time range, as one write."""
    lineage.write_cube(
        cube_plan.build_cube(cat, grid, time_range=TR, bands=BANDS), out,
        expected_partitions=cube_plan.expected_partitions(
            cat, grid, time_range=TR, bands=BANDS
        ),
    )


def _grid_args(sf0001_dir, out):
    grid = synth.default_grid("sf0.001")
    x0, y1, x1, y0 = grid.x0, grid.y0, grid.x0 + grid.res * grid.width, grid.y0 - grid.res * grid.height
    return [
        "--catalog", sf0001_dir, "--out", out,
        "--bbox", str(x0), str(y0), str(x1), str(y1),
        "--time-range", *TR, "--bands", *BANDS,
        "--grid-res", str(grid.res), "--tile", str(grid.tile_w),
    ]


def test_per_day_equals_single_call(spark, sf0001_dir, tmp_path):
    grid = synth.default_grid("sf0.001")
    cat = SceneCatalog(spark, sf0001_dir)
    ref_out = str(tmp_path / "ref")
    _write_reference(cat, grid, ref_out)

    job = _load_job()
    day_out = str(tmp_path / "perday")
    # job bbox derives a fresh GridSpec from --bbox/--grid-res; pass the
    # exact grid extent so tile keys line up with the direct build
    assert job.main(_grid_args(sf0001_dir, day_out) + ["--per-day", "--resume"]) == 0
    assert _cube_digest(spark, day_out) == _cube_digest(spark, ref_out)
    # one commit per day in the log
    commits = lineage._commit_tables(day_out)
    days = spark.read.parquet(*commits).select("solar_day").distinct().count()
    assert len(commits) == days


def test_per_day_crash_resume_skips_committed_days(spark, sf0001_dir, tmp_path, monkeypatch, capsys):
    job = _load_job()
    out = str(tmp_path / "crash")
    args = _grid_args(sf0001_dir, out) + ["--per-day", "--resume"]

    real_write = lineage.write_cube
    calls = {"n": 0}

    def dying_write(cube, path, attrs=None, resume=True, *, expected_partitions):
        if calls["n"] >= 2:
            raise RuntimeError("injected crash after 2 committed days")
        calls["n"] += 1
        return real_write(
            cube, path, attrs=attrs, resume=resume,
            expected_partitions=expected_partitions,
        )

    # _run_per_day resolves lineage.write_cube at call time on the shared
    # module object, so patching the module attribute reaches the job
    monkeypatch.setattr(lineage, "write_cube", dying_write)
    with pytest.raises(RuntimeError, match="injected crash"):
        job.main(args)
    monkeypatch.setattr(lineage, "write_cube", real_write)
    capsys.readouterr()

    # resume: the two committed days must be skipped BEFORE any plan work
    assert job.main(args) == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
    skipped = [ln["day"] for ln in lines if ln.get("skipped")]
    recomputed = [ln for ln in lines if "written_partitions" in ln and "day" in ln]
    assert len(skipped) == 2
    assert all(r["written_partitions"] > 0 for r in recomputed)
    # final content identical to a clean single-call build
    grid = synth.default_grid("sf0.001")
    cat = SceneCatalog(spark, sf0001_dir)
    ref_out = str(tmp_path / "ref2")
    _write_reference(cat, grid, ref_out)
    assert _cube_digest(spark, out) == _cube_digest(spark, ref_out)
