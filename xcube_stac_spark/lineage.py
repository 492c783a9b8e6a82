"""Checkpointed, resumable cube writes with per-partition lineage + metrics.

The reference has no resumability: one ``open_data`` call builds one in-memory
dask graph, and a failure restarts everything. The north rule requires
"resumable from per-partition checkpoints with lineage and metric emission",
so this module adds the Iceberg-commit-log idea over plain parquet, with ONE
write path (``write_cube``):

* the cube is written partitioned by ``(solar_day, tile_y, tile_x)``; every
  row carries a precomputed ``data_bytes`` column beside the planes and the
  ``run_id`` of the call that wrote it;
* the caller passes the partition keys the call must cover, derived from
  metadata alone (``plans.cube.expected_partitions``); with ``resume=True``
  keys already in the commit log are anti-joined away, so a restarted job
  rewrites only uncommitted partitions;
* each successful call publishes ONE parquet commit table under
  ``_commitlog/`` holding a row per completed partition: key, row/byte
  counts, contributing item ids (lineage — the Spark analogue of the
  reference's ``stac_items`` attrs, utils.py:938-947). The table is written
  distributed from a column-pruned read-back of this run's rows (staged,
  then renamed into place), so no per-partition data ever crosses the driver;
* readers see only committed keys: ``read_cube`` semi-joins the commit log,
  so a crashed run's files are invisible without ever being deleted;
* global attrs (query params, engine version — utils.py:907-952
  ``add_attrs``) land in ``_commitlog/_meta.json``; run totals in
  ``_commitlog/runs.jsonl`` (one line per call).

At 100 TB the commit log is tiny (one row per grid partition, ~10^5 rows
for a continental cube) and the anti-join is a broadcast. If a real Iceberg
runtime is on the classpath the same interface maps onto Iceberg snapshots;
this hand-rolled log keeps the semantics without the jar.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMMITLOG = "_commitlog"
PART_COLS = ["solar_day", "tile_y", "tile_x"]


def _log_dir(path: str) -> str:
    return os.path.join(path, COMMITLOG)


def write_meta(path: str, attrs: dict) -> None:
    """Global lineage attrs (C13): query params, engine version, timestamps."""
    os.makedirs(_log_dir(path), exist_ok=True)
    with open(os.path.join(_log_dir(path), "_meta.json"), "w") as f:
        json.dump(attrs, f, indent=2, sort_keys=True, default=str)


def read_meta(path: str) -> dict:
    p = os.path.join(_log_dir(path), "_meta.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _commit_tables(path: str) -> list[str]:
    """The parquet commit tables in the commit log, one per published call."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return [
        os.path.join(d, fn)
        for fn in sorted(os.listdir(d))
        if fn.startswith("commit-") and fn.endswith(".parquet")
    ]


def _commit_keys(spark: SparkSession, path: str) -> DataFrame:
    """(solar_day, tile_y, tile_x) of every commit row, NOT deduplicated (a
    key rewritten by a later call appears once per commit): the resume
    anti-join and the read semi-join need no distinct, so no shuffle."""
    commits = _commit_tables(path)
    if not commits:
        return spark.createDataFrame([], "solar_day date, tile_y int, tile_x int")
    return spark.read.parquet(*commits).select(
        F.to_date("solar_day").alias("solar_day"), "tile_y", "tile_x"
    )


def committed_partitions(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame(solar_day, tile_y, tile_x) of completed partitions.

    Commits are parquet tables (one per successful write call), so this is a
    distributed scan — nothing partition-count-shaped ever crosses the
    driver."""
    return _commit_keys(spark, path).distinct()


def write_cube(
    cube: DataFrame,
    path: str,
    attrs: dict | None = None,
    resume: bool = True,
    *,
    expected_partitions: DataFrame,
) -> dict:
    """Write cube tiles partitioned by (solar_day, tile_y, tile_x) and, after
    a successful write, publish one commit table holding a row per partition
    with its metrics and lineage. Returns the run totals.

    ``expected_partitions`` is the (solar_day, tile_y, tile_x) set this call
    is REQUESTED to cover, derived from metadata alone
    (plans.cube.expected_partitions: scene search x grid assignment, no
    pixel decode). The cube pipeline executes exactly once, straight into
    the parquet sink, and the commit metrics are aggregated from a
    COLUMN-PRUNED read-back of the rows this run wrote (``run_id`` filter):
    partition values plus the small ``data_bytes`` column every row carries,
    so the plane payload is never read twice.

    Resume contract: commit granularity is the WRITE CALL (all partitions of
    a successful call are committed atomically at its end); resume
    granularity is the partition. With ``resume=True`` the run covers only
    expected keys no completed call has committed; ``resume=False`` rewrites
    every expected key. Callers needing finer-grained checkpoints split the
    input into several calls (one per solar day — the per-day job and the
    streaming path do exactly this).

    Crash safety: nothing is deleted before writing. A crashed run's files
    sit either in a key directory a later run rewrites, where dynamic
    partition overwrite replaces them, or in a key no commit lists, which
    ``read_cube`` hides; the read-back keeps only this run's ``run_id``, so
    they never enter a commit, even for a key that yields zero rows. A
    committed key whose rewrite yields zero rows keeps its directory. A run
    that publishes no commit removes its own ``_staging`` table; a killed
    process can still leave one, which no reader looks at.

    The per-partition rows never touch the driver: the aggregation is
    written (distributed) to the staging dir, and publishing a commit is a
    single rename of that table. The driver collects only the distinct
    solar days of the run, to prune the read-back listing.
    """
    spark = cube.sparkSession
    os.makedirs(_log_dir(path), exist_ok=True)
    if attrs:
        write_meta(path, attrs)
    t0 = time.perf_counter()
    run_id = uuid.uuid4().hex[:12]
    staging = os.path.join(_log_dir(path), "_staging", run_id)
    nothing = {"written_partitions": 0, "elapsed_sec": 0.0, "resumed": resume}
    keys = expected_partitions.select(
        F.to_date(F.col("solar_day").cast("string")).alias("solar_day"),
        F.col("tile_y").cast("int").alias("tile_y"),
        F.col("tile_x").cast("int").alias("tile_x"),
    )
    if resume:  # cover only the keys no completed call has committed
        keys = keys.join(F.broadcast(_commit_keys(spark, path)), PART_COLS, "left_anti")
    keys = keys.persist()  # one row per partition key — tiny at any cube size
    try:
        # the run's solar days prune the read-back LISTING below: reading the
        # store root would re-list and footer-read every partition ever
        # written — O(total store) per call, O(N^2) over an N-day
        # per-day/streaming loop
        days = sorted(
            str(r["solar_day"])
            for r in keys.select("solar_day").distinct().collect()
        )
        if not days:
            return nothing
        # no repartition here: mosaic_take_first already hash-partitions its
        # output on exactly this write key, and the broadcast semi-join keeps
        # that partitioning. The overwrite mode is set on this write only;
        # the caller's session keeps its own.
        (
            cube.join(F.broadcast(keys), PART_COLS, "left_semi")
            .withColumn("solar_day", F.col("solar_day").cast("string"))
            .withColumn("data_bytes", F.octet_length("data"))
            .withColumn("run_id", F.lit(run_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PART_COLS)
            .parquet(path)
        )
        # A day directory is absent when every tile of that day produced zero
        # rows (all-nodata scenes); return before schema inference could fail
        # on an empty store.
        day_paths = [
            p for p in (os.path.join(path, f"solar_day={d}") for d in days)
            if os.path.isdir(p)
        ]
        if not day_paths:
            return nothing
        # one repartition(1) file per commit: the rows are ~100 B each, so
        # the log stays compact without serialising the aggregation
        (
            spark.read.option("basePath", path)
            .parquet(*day_paths)
            .where(F.col("run_id") == run_id)
            .select(
                F.to_date(F.col("solar_day").cast("string")).alias("solar_day"),
                F.col("tile_y").cast("int").alias("tile_y"),
                F.col("tile_x").cast("int").alias("tile_x"),
                "n_scenes", "item_ids", "data_bytes",
            )
            .groupBy(*PART_COLS)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("data_bytes").alias("bytes"),
                F.sum("n_scenes").alias("n_scene_tiles"),
                F.array_join(
                    F.array_sort(F.collect_set("item_ids")), ";"
                ).alias("lineage"),
            )
            .withColumn("solar_day", F.col("solar_day").cast("string"))
            .repartition(1)
            .write.mode("overwrite")
            .parquet(staging)
        )
        n_parts = spark.read.parquet(staging).count()
    finally:
        keys.unpersist()
    try:
        # publish: the staged metrics table BECOMES the commit record atomically
        if n_parts:
            os.rename(staging, os.path.join(_log_dir(path), f"commit-{run_id}.parquet"))
    finally:
        # a run that publishes nothing removes its own staged table
        shutil.rmtree(staging, ignore_errors=True)
    if n_parts == 0:
        return nothing
    elapsed = time.perf_counter() - t0
    run_row = {
        "run_id": run_id,
        "written_partitions": int(n_parts),
        "elapsed_sec": round(elapsed, 3),
        "partitions_per_sec": round(n_parts / elapsed, 3) if elapsed else None,
        "resumed": resume,
    }
    with open(os.path.join(_log_dir(path), "runs.jsonl"), "a") as f:
        f.write(json.dumps(run_row) + "\n")
    return run_row


def read_cube(spark: SparkSession, path: str) -> DataFrame:
    """Read the committed keys of a written cube back (partition columns
    restored to types, ``run_id`` dropped). Files of keys no commit lists —
    a crashed run's leftovers — are invisible."""
    df = spark.read.parquet(path)
    cols = [c for c in df.columns if c != "run_id"]
    return (
        df.withColumn("solar_day", F.to_date("solar_day"))
        .withColumn("tile_y", F.col("tile_y").cast("int"))
        .withColumn("tile_x", F.col("tile_x").cast("int"))
        .join(F.broadcast(_commit_keys(spark, path)), PART_COLS, "left_semi")
        .select(*cols)
    )


def metrics(path: str) -> list[dict]:
    """All commit-log metric records (per-partition) — driver-side audit
    helper (the scale path is ``spark.read.parquet`` over the commit dirs)."""
    import pyarrow.parquet as pq

    return [r for p in _commit_tables(path) for r in pq.read_table(p).to_pylist()]


def runs(path: str) -> list[dict]:
    """Run-level commit records (one per successful write_cube call)."""
    p = os.path.join(_log_dir(path), "runs.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(x) for x in f]
