"""Checkpointed, resumable cube writes with per-partition lineage + metrics.

The reference has no resumability: one ``open_data`` call builds one in-memory
dask graph, and a failure restarts everything. The north rule requires
"resumable from per-partition checkpoints with lineage and metric emission",
so this module adds the Iceberg-commit-log idea over plain parquet, with ONE
write path (``write_cube``):

* the cube is written partitioned by ``(solar_day, tile_y, tile_x)``; every
  data file carries a precomputed ``data_bytes`` column beside the planes;
* the caller passes the partition keys the call must cover, derived from
  metadata alone (``plans.cube.expected_partitions``); with ``resume=True``
  keys already in the commit log are anti-joined away, so a restarted job
  rewrites only uncommitted partitions;
* each successful call publishes ONE parquet commit table under
  ``_commitlog/`` holding a row per completed partition: key, row/byte
  counts, contributing item ids (lineage — the Spark analogue of the
  reference's ``stac_items`` attrs, utils.py:938-947). The table is written
  distributed from a column-pruned read-back of the new files (staged, then
  renamed into place), so no per-partition data ever crosses the driver;
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


def committed_partitions(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame(solar_day, tile_y, tile_x) of completed partitions.

    Commits are parquet tables (one per successful write call), so this is a
    distributed scan — nothing partition-count-shaped ever crosses the
    driver."""
    commits = _commit_tables(path)
    if not commits:
        return spark.createDataFrame(
            [], "solar_day string, tile_y int, tile_x int"
        ).withColumn("solar_day", F.to_date("solar_day"))
    return (
        spark.read.parquet(*commits)
        .select("solar_day", "tile_y", "tile_x")
        .withColumn("solar_day", F.to_date("solar_day"))
        .distinct()
    )


def _preclean_distributed(keys: DataFrame, path: str) -> None:
    """Delete partition directories for the given (solar_day, tile_y,
    tile_x) keys as ONE distributed mapInPandas stage: each task rmtrees
    its batch of keys against the shared store, so driver work is O(1) in
    the key count. Leftover dirs exist only after a crash, so tasks mostly
    do a single isdir miss.
    On an object store the same stage issues batched DeleteObjects calls."""

    def rm(batches):
        import shutil

        import pandas as pd

        for pdf in batches:
            n = 0
            for r in pdf.itertuples(index=False):
                d = os.path.join(
                    path,
                    f"solar_day={r.solar_day}",
                    f"tile_y={int(r.tile_y)}",
                    f"tile_x={int(r.tile_x)}",
                )
                if os.path.isdir(d):
                    shutil.rmtree(d, ignore_errors=True)
                    n += 1
            yield pd.DataFrame({"n_removed": [n]})

    (
        keys.select(
            F.col("solar_day").cast("string").alias("solar_day"),
            "tile_y",
            "tile_x",
        )
        .mapInPandas(rm, "n_removed int")
        .agg(F.sum("n_removed"))
        .first()
    )


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
    COLUMN-PRUNED read-back of the files just written: partition values plus
    the small ``data_bytes`` column every file carries, so the plane payload
    is never read twice.

    Resume contract: commit granularity is the WRITE CALL (all partitions of
    a successful call are committed atomically at its end); resume
    granularity is the partition. With ``resume=True`` the run covers only
    expected keys no completed call has committed; ``resume=False`` rewrites
    every expected key. Callers needing finer-grained checkpoints split the
    input into several calls (one per solar day — the per-day job and the
    streaming path do exactly this).

    Crash safety: a crash between data write and commit leaves only
    uncommitted partition directories. A run that publishes no commit
    removes its own ``_staging`` table; a killed process can still leave
    one, which no reader looks at. Before writing, the directories of
    expected-but-uncommitted keys are deleted (a distributed stage), so the read-back is exactly this run's
    output: crash leftovers never leak into a commit, even for a key that
    yields zero rows this run. Committed directories are never pre-cleaned;
    dynamic partition overwrite replaces them only where new rows land.

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
    done = committed_partitions(spark, path)
    have_commits = not done.isEmpty()
    exp_all = expected_partitions.select(
        F.to_date(F.col("solar_day").cast("string")).alias("solar_day"),
        F.col("tile_y").cast("int").alias("tile_y"),
        F.col("tile_x").cast("int").alias("tile_x"),
    ).distinct()
    # UNCOMMITTED expected keys: the only directories that may hold crash
    # leftovers, and the only ones safe to delete in either resume mode
    uncommitted = (
        exp_all.join(F.broadcast(done), PART_COLS, "left_anti")
        if have_commits
        else exp_all
    )
    # resume narrows the run to uncommitted keys; a full rewrite covers all
    exp = uncommitted if (resume and have_commits) else exp_all
    exp = exp.persist()  # one row per partition key — tiny at any cube size
    try:
        if exp.isEmpty():
            return nothing
        todo = cube
        if resume and have_commits:
            todo = todo.join(F.broadcast(done), PART_COLS, "left_anti")
        # dynamic partition overwrite only replaces partitions that get
        # rows, so a zero-row key would keep a crashed run's partial files
        _preclean_distributed(uncommitted, path)
        # no repartition here: mosaic_take_first already hash-partitions its
        # output on exactly this write key, so a shuffle of the full planes
        # would be pure extra byte movement. The overwrite mode is set on
        # this write only; the caller's session keeps its own.
        (
            todo.withColumn("solar_day", F.col("solar_day").cast("string"))
            .withColumn("data_bytes", F.octet_length("data"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PART_COLS)
            .parquet(path)
        )
        # metrics/lineage from the just-written files, with the LISTING
        # pruned to this run's solar days: reading the store root would
        # re-list and footer-read every partition ever written — O(total
        # store) per call, O(N^2) over an N-day per-day/streaming loop.
        # A day directory is absent when every expected tile of that day
        # produced zero rows (all-nodata scenes); the zero-days case returns
        # before schema inference could fail on an empty store.
        days = sorted(
            str(r["solar_day"])
            for r in exp.select("solar_day").distinct().collect()
        )
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
            .select(
                F.to_date(F.col("solar_day").cast("string")).alias("solar_day"),
                F.col("tile_y").cast("int").alias("tile_y"),
                F.col("tile_x").cast("int").alias("tile_x"),
                "n_scenes", "item_ids", "data_bytes",
            )
            .join(F.broadcast(exp), PART_COLS, "left_semi")
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
        exp.unpersist()
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
    """Read a written cube back (partition columns restored to types)."""
    return (
        spark.read.parquet(path)
        .withColumn("solar_day", F.to_date("solar_day"))
        .withColumn("tile_y", F.col("tile_y").cast("int"))
        .withColumn("tile_x", F.col("tile_x").cast("int"))
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
