"""Structured-Streaming ingest: incremental cube maintenance.

The reference is strictly batch (SURVEY §2.9 — one ``open_data`` call, one
dask graph). A production catalog, though, RECEIVES scenes continuously;
this module adds the streaming half the reference lacks:

* ``stream_scenes`` — file-source stream of newly-landed scene rows (in
  production: Kafka/Kinesis of STAC item notifications; the transformations
  are source-agnostic).
* ``scene_arrival_stats`` — watermarked sliding-window counts per tile:
  late scenes (satellite downlink delays) are handled by the watermark, not
  dropped silently.
* ``run_incremental_cube`` — foreachBatch: each micro-batch of new scenes
  runs the SAME batch operators (dedup → decode → regrid → mosaic) against
  the images table and upserts the affected cube partitions through the
  commit-log writer (lineage.write_cube with resume=False over the
  partition subset) — exactly-once per partition because the mosaic output
  key equals the write partition key.

Re-mosaicking on late arrivals: a micro-batch recomputes every (solar_day,
band, tile) partition any of its scenes touches, reading ALL contributing
scenes for those partitions from the catalog (not just the batch), so the
take-first order stays globally deterministic regardless of arrival order.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_stac_spark import lineage
from xcube_stac_spark.gridspec import GridSpec
from xcube_stac_spark.operators import spatial, tiles
from xcube_stac_spark.plans import cube as cube_plan
from xcube_stac_spark.sources.catalog import SceneCatalog

SCENES_DDL = (
    "item_id string, collection string, datetime timestamp, "
    "start_datetime timestamp, end_datetime timestamp, "
    "bbox_xmin double, bbox_ymin double, bbox_xmax double, bbox_ymax double, "
    "footprint array<struct<lon:double,lat:double>>, tile_id string, "
    "zone int, proj_code string, proc_version string, orbit_state string, "
    "scene_x0 double, scene_y0 double, scene_res double, "
    "nodata double, scale double, offset double"
)


def stream_scenes(spark: SparkSession, watch_dir: str) -> DataFrame:
    """File-source scene stream (one parquet drop per arrival batch)."""
    return (
        spark.readStream.schema(SCENES_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(watch_dir)
    )


def scene_arrival_stats(
    scene_stream: DataFrame, window: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Watermarked tumbling-window arrival counts per tile — the streaming
    twin of lineage_per_time (A8)."""
    ts = F.coalesce(F.col("datetime"), F.col("start_datetime"))
    return (
        scene_stream.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("tile_id"))
        .agg(
            F.count("*").alias("n_scenes"),
            F.approx_count_distinct("proc_version").alias("n_versions"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "tile_id", "n_scenes", "n_versions",
        )
    )


def session_stats_stream(
    event_stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — the stateful
    windowed twin of the batch lag+cumsum sessionize (operators/events.py):
    events of one user within ``gap`` of each other merge into one session;
    the watermark closes sessions whose gap has definitively elapsed (late
    events within the watermark still extend their session)."""
    # parquet naive timestamps arrive as TIMESTAMP_NTZ in Spark 4; event-time
    # watermarks require TIMESTAMP (session TZ is pinned UTC → same instant)
    event_stream = event_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        event_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint"
)


def stream_images(spark: SparkSession, watch_dir: str) -> DataFrame:
    """File-source stream of newly-landed multimodal image rows (the
    mandated corpus shape; in production a Kafka/object-store notification
    stream)."""
    return (
        spark.readStream.schema(IMAGES_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(watch_dir)
    )


def quality_gate_stream(
    image_stream: DataFrame, max_phash_hamming: int = 10, min_std: float = 1.0
) -> DataFrame:
    """Streaming ingest-time corpus quality gate — the filter a
    training-data pipeline runs as rows ARRIVE rather than in a nightly
    batch: full Arrow-batched decode (the SAME multimodal.image_stats
    mapInPandas as batch — mapInPandas is streaming-capable, so there is
    ONE implementation of the decode math), then drop rows whose
    recomputed perceptual hash drifts from the stored one (corruption /
    mislabeled payload) or whose pixel variance is degenerate (blank
    tiles). Stateless map+filter: no watermark needed, arbitrarily
    late rows are still gated identically — streaming output ≡ the batch
    filter over the union of all arrivals (pinned by test)."""
    from xcube_stac_spark.operators import multimodal as mm_op

    stats = mm_op.image_stats(image_stream)
    return stats.where(
        (F.col("phash_hamming") <= max_phash_hamming)
        & (F.col("std") >= min_std)
    ).select("image_id", "fmt", "mean", "std", "phash_hamming")


DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def stream_documents(spark: SparkSession, watch_dir: str) -> DataFrame:
    """File-source stream of newly-landed document rows (the documents
    table shape; in production a Kafka/object-store notification stream)."""
    return (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch_dir)
    )


def exact_dedup_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup — the ingest-time counterpart of
    ``text.exact_dedup``: suppress every re-arrival of an already-seen text,
    across micro-batch boundaries, emitting each distinct text's
    first-arrived row.

    DELIBERATE semantic difference from the batch op (r7, ADVICE r6): the
    stream dedups case-INSENSITIVELY (``md5(lower(text))``) because ingest
    is where trivially-recased re-submissions of the same document are
    cheapest to drop, while the batch op hashes raw text so its groups
    match the byte-exact DuckDB oracle. A pipeline needing byte-exact
    stream semantics removes the ``lower``; the cross-batch suppression
    test pins the case-insensitive contract. Built on
    Spark's native streaming ``dropDuplicates`` so the seen-set state lives
    in the JVM state store (HDFS/RocksDB-backed, checkpointed, recovered on
    restart) keyed on the 128-bit text hash — no Python in the loop and no
    custom state code to get wrong.

    Scale note: state is O(distinct texts) — at unbounded corpus lifetime a
    production run bounds it with ``dropDuplicatesWithinWatermark`` (a
    dedup horizon after which a re-arrival is accepted as new) or by
    periodically compacting the seen-set into an at-rest table and
    anti-joining arrivals against it; the operator itself is unchanged."""
    return doc_stream.withColumn(
        "text_hash", F.md5(F.lower(F.col("text")))
    ).dropDuplicates(["text_hash"])


REPROC_SCHEMA = "tile_id string, item_id string, old_version string, new_version string"
REPROC_STATE = "max_version string"


def reprocessing_detector(scene_stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per tile, keep the
    max processing version seen so far; EMIT a record whenever a new scene
    SUPERSEDES it — the streaming trigger for cube-partition invalidation
    (the incremental analogue of the J2 latest-version dedup, which batch
    mode resolves with a window).

    State: one string per tile_id — O(#tiles), bounded and tiny even at
    planetary scale (~10^5 tiles)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        tile_id = key[0]
        max_v = state.get[0] if state.exists else None
        out_rows = []
        for pdf in pdfs:
            for r in pdf.sort_values(["proc_version", "item_id"]).itertuples(index=False):
                if max_v is not None and r.proc_version > max_v:
                    out_rows.append((tile_id, r.item_id, max_v, r.proc_version))
                if max_v is None or r.proc_version > max_v:
                    max_v = r.proc_version
        state.update((max_v,))
        import pandas as pd_

        yield pd_.DataFrame(
            out_rows, columns=["tile_id", "item_id", "old_version", "new_version"]
        )

    return (
        scene_stream.select("tile_id", "item_id", "proc_version")
        .groupBy("tile_id")
        .applyInPandasWithState(
            update, REPROC_SCHEMA, REPROC_STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def recompute_time_range(dirty_days: Sequence) -> tuple[str, str]:
    """UTC datetime range guaranteed to contain every scene whose SOLAR day
    is in ``dirty_days``: solar_day = UTC + int(lon/15) h, so a scene's UTC
    date differs from its solar day by at most one calendar day (offset
    bounded by ±12 h) — widen the min/max by ±1 day."""
    return (
        f"{min(dirty_days) - dt.timedelta(days=1)} 00:00:00",
        f"{max(dirty_days) + dt.timedelta(days=1)} 23:59:59",
    )


def run_incremental_cube(
    spark: SparkSession,
    watch_dir: str,
    cat: SceneCatalog,
    grid: GridSpec,
    out_path: str,
    bands: Sequence[str],
    checkpoint_dir: str,
    on_batch: Callable[[int, int], None] | None = None,
):
    """Start a stream that maintains the cube incrementally.

    Each micro-batch: the new scenes' solar days + grid tiles define the
    DIRTY partition set; the batch pipeline recomputes exactly those
    partitions from the full catalog and overwrites them (dynamic partition
    overwrite); a batch counts once its commit lands, and readers see only
    committed keys."""
    stream = stream_scenes(spark, watch_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = spatial.with_solar_day(
            spatial.search_scenes(batch_df, bbox=grid.bbox())
        )
        dirty_days = [r[0] for r in new.select("solar_day").distinct().collect()]
        if not dirty_days:
            return
        # recompute all partitions of the dirty solar days from the full
        # catalog so late arrivals merge deterministically with older scenes.
        # The catalog filter is a UTC datetime range but solar_day is
        # UTC + int(lon/15)h: a scene at |lon| >= 15° acquired near UTC
        # midnight lands on an adjacent UTC date, so the range is widened by
        # ±1 day (solar offset is bounded by ±12 h) — the where() below
        # still restricts the OUTPUT to exactly the dirty partitions
        tr = recompute_time_range(dirty_days)
        cube = cube_plan.build_cube(
            cat, grid, time_range=tr, bands=bands,
        ).where(F.col("solar_day").isin(dirty_days))
        exp = cube_plan.expected_partitions(
            cat, grid, time_range=tr, bands=bands,
        ).where(F.col("solar_day").isin(dirty_days))
        m = lineage.write_cube(
            cube, out_path, resume=False, expected_partitions=exp
        )
        if on_batch:
            on_batch(epoch_id, m["written_partitions"])

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
