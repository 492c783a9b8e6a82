#!/usr/bin/env python
"""spark-submit entry point for the flagship cube build.

Production invocation (north rule: spark-submit --py-files on a
multi-executor cluster):

    spark-submit \
      --py-files xcube_stac_spark.zip \
      jobs/build_cube_job.py \
      --catalog /data/catalog --out /data/cube \
      --bbox 10.6 48.9 13.4 50.8 \
      --time-range 2025-06-01 2025-06-30 \
      --bands B02 B03 B04 \
      --grid-res 0.0099 --tile 1024 --resume

Locally it runs on whatever master the session default picks
(local[$SPARK_GRAFT_CPUS]). The job is resumable: re-running with the same
--out skips partitions already in the commit log.

Build the --py-files archive with:
    (cd /root/repo && zip -qr xcube_stac_spark.zip xcube_stac_spark)
"""

from __future__ import annotations

import argparse
import json
import sys


def _run_per_day(spark, cat, grid, args, bbox, attrs) -> dict:
    """Per-solar-day checkpointed build: one write_cube call per day.

    Commit granularity in lineage.write_cube is the WRITE CALL, so splitting
    the input per solar day makes each day an atomic checkpoint: a killed
    run's completed days are in the commit log and a --resume rerun SKIPS
    them before any plan is built (scan-level pruning, not post-hoc
    filtering); the at-most-one partially-written day is recomputed: dynamic
    partition overwrite replaces its rewritten keys, and readers never see
    its keys that no commit lists.

    Scene selection stays equivalent to the single-call build: each day's
    plan filters the SAME UTC time range down to solar_day == d, and the
    union over all distinct solar days reproduces the full scene set (solar
    day is a pure function of UTC datetime + scene longitude, C6). The UTC
    window is additionally narrowed to [d-1, d+2) ∩ [T0, T1] so the per-day
    scan prunes (|solar offset| <= 12 h ⇒ ±1 day covers every contributor —
    same widening as the streaming recompute path, streaming/ingest.py).
    """
    import datetime as dt

    from pyspark.sql import functions as F

    from xcube_stac_spark import lineage
    from xcube_stac_spark.plans import cube as cube_plan

    t0, t1 = args.time_range
    scenes = cube_plan.select_scenes(cat, bbox, (t0, t1), args.collections)
    days = sorted(str(r[0]) for r in scenes.select("solar_day").distinct().collect())
    done = {str(r[0]) for r in lineage.committed_partitions(spark, args.out).select("solar_day").distinct().collect()} if args.resume else set()
    lineage.write_meta(args.out, attrs)
    total = {"written_partitions": 0, "elapsed_sec": 0.0, "days_total": len(days),
             "days_skipped": sum(d in done for d in days), "per_day": True}
    for d in days:
        if d in done:
            print(json.dumps({"day": d, "skipped": True, "reason": "committed"}), flush=True)
            continue
        day = dt.date.fromisoformat(d)
        w0 = max(t0, (day - dt.timedelta(days=1)).isoformat())
        w1 = min(t1, (day + dt.timedelta(days=2)).isoformat())
        day_cube = cube_plan.build_cube(
            cat, grid, bbox=bbox, time_range=(w0, w1), bands=args.bands,
            collections=args.collections,
        ).where(F.col("solar_day") == F.lit(d).cast("date"))
        day_exp = cube_plan.expected_partitions(
            cat, grid, bbox=bbox, time_range=(w0, w1), bands=args.bands,
            collections=args.collections,
        ).where(F.col("solar_day") == F.lit(d).cast("date"))
        m = lineage.write_cube(
            day_cube, args.out, resume=args.resume, expected_partitions=day_exp
        )
        print(json.dumps({"day": d, **m}), flush=True)
        total["written_partitions"] += m["written_partitions"]
        total["elapsed_sec"] = round(total["elapsed_sec"] + m["elapsed_sec"], 3)
    return total


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--catalog", required=True, help="catalog root (scenes/images/assets tables)")
    p.add_argument("--out", required=True, help="output cube path")
    p.add_argument("--bbox", nargs=4, type=float, metavar=("XMIN", "YMIN", "XMAX", "YMAX"))
    p.add_argument("--time-range", nargs=2, metavar=("T0", "T1"), default=["1970-01-01", "2100-01-01"])
    p.add_argument("--bands", nargs="+", default=None)
    p.add_argument("--collections", nargs="+", default=None)
    p.add_argument("--grid-res", type=float, required=True, help="target grid resolution (deg)")
    p.add_argument("--tile", type=int, default=1024, help="grid tile size (px)")
    p.add_argument("--levels", type=int, default=0, help="extra pyramid levels to write")
    p.add_argument("--resume", action="store_true", help="skip partitions already committed")
    p.add_argument(
        "--per-day", action="store_true",
        help="one checkpointed write_cube call per solar day: commit "
             "granularity becomes the day, so a killed run resumes without "
             "recomputing ANY completed day (the commit-log contract's "
             "fine-grained mode; the streaming path uses the same shape)",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from xcube_stac_spark.session import get_spark
    from xcube_stac_spark.gridspec import GridSpec
    from xcube_stac_spark import lineage
    from xcube_stac_spark.operators import pyramid as pyr
    from xcube_stac_spark.plans import cube as cube_plan
    from xcube_stac_spark.sources.catalog import SceneCatalog

    spark = get_spark("build_cube", master=args.master)
    cat = SceneCatalog(spark, args.catalog)
    if args.bbox:
        xmin, ymin, xmax, ymax = args.bbox
    else:
        r = cat.collections().collect()[0]
        xmin, ymin, xmax, ymax = r.xmin, r.ymin, r.xmax, r.ymax
    width = max(1, int(round((xmax - xmin) / args.grid_res)))
    height = max(1, int(round((ymax - ymin) / args.grid_res)))
    grid = GridSpec(
        crs="EPSG:4326", x0=xmin, y0=ymax, res=args.grid_res,
        width=width, height=height, tile_w=args.tile, tile_h=args.tile,
    )
    attrs = {
        "bbox": [xmin, ymin, xmax, ymax],
        "time_range": args.time_range,
        "bands": args.bands,
        "grid": grid.to_dict(),
        "engine": "xcube_stac_spark",
    }
    if args.per_day:
        metrics = _run_per_day(spark, cat, grid, args, (xmin, ymin, xmax, ymax), attrs)
    else:
        cube = cube_plan.build_cube(
            cat, grid, bbox=(xmin, ymin, xmax, ymax),
            time_range=tuple(args.time_range), bands=args.bands,
            collections=args.collections,
        )
        exp = cube_plan.expected_partitions(
            cat, grid, bbox=(xmin, ymin, xmax, ymax),
            time_range=tuple(args.time_range), bands=args.bands,
            collections=args.collections,
        )
        metrics = lineage.write_cube(
            cube, args.out, resume=args.resume, attrs=attrs,
            expected_partitions=exp,
        )
    if args.levels > 0:
        base = lineage.read_cube(spark, args.out)
        pyr_df = pyr.build_pyramid(base, grid, args.levels)
        (
            pyr_df.where("level > 0")
            .withColumn("solar_day", pyr_df["solar_day"].cast("string"))
            .write.mode("overwrite")
            .partitionBy("level", "solar_day")
            .parquet(args.out.rstrip("/") + "_pyramid")
        )
        metrics["pyramid_levels"] = args.levels
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
