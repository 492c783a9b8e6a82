"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship cube build on sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY §2);
``oracle_sql()`` gives the DuckDB-equivalent SQL. Geospatial queries run on
the deterministic synthetic scenes/images tables generated into
``/root/repo/synthdata/<sf>/`` (seed-fixed; regenerate with
``python -m xcube_stac_spark.synth``); their oracle SQL reads the same
parquet via ``read_parquet`` absolute paths at sf0.01 (the driver's
correctness scale). Pixel ops SQL can't express (cube_build, image_stats,
angles_cube, uv_clip, orthorectify, rectify_swath, pyramid) are oracled via
FIXTURE parquet computed by the independent NumPy implementations
(xcube_stac_spark/fixtures.py) — the oracle SQL is a read_parquet of the
golden answer, so every query is value-checked by the driver.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_stac_spark import cells
from xcube_stac_spark import fixtures
from xcube_stac_spark import functions as X
from xcube_stac_spark import synth
from xcube_stac_spark.operators import ann as ann_op
from xcube_stac_spark.operators import events as events_op
from xcube_stac_spark.operators import multimodal as mm_op
from xcube_stac_spark.operators import sampling as sampling_op
from xcube_stac_spark.operators import spatial
from xcube_stac_spark.operators import text as text_op
from xcube_stac_spark.plans import cube as cube_plan
from xcube_stac_spark.sources.catalog import SceneCatalog

# fixed query parameters (shared by Spark queries, oracle SQL and the pixel
# fixtures — single source of truth in fixtures.py)
TIME_RANGE = fixtures.TIME_RANGE
REGION = fixtures.REGION
KNN_POINT = (12.0, 49.5)
KNN_K = 5
LEVEL = cells.DEFAULT_LEVEL
CELL = cells.cell_size_deg(LEVEL)
NC = cells.n_cols(LEVEL)
NR = 1 << LEVEL

SYNTH_SF001 = "/root/repo/synthdata/sf0.01"


def _cat(spark: SparkSession, sf_dir: str) -> SceneCatalog:
    return SceneCatalog(spark, synth.synth_dir_for(sf_dir))


def _searched(spark, sf_dir):
    return spatial.search_scenes(
        _cat(spark, sf_dir).scenes(), time_range=TIME_RANGE
    )


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full spatial-join + decode + regrid + mosaic cube on the
    sf0.001 synthetic world (metadata columns only — pixel payloads stay
    distributed)."""
    sdir = synth.generate("sf0.001")
    cat = SceneCatalog(spark, sdir)
    grid = synth.default_grid("sf0.001")
    cube = cube_plan.build_cube(
        cat, grid, time_range=("2025-06-01", "2025-06-30"), bands=["B02", "B03"]
    )
    return cube.select(
        F.col("solar_day").cast("string").alias("solar_day"),
        "band", "tile_y", "tile_x", "n_scenes", "item_ids",
        F.round("valid_frac", 6).alias("valid_frac"),
        F.round("checksum", 3).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_scene_search(spark, sf_dir):
    return _searched(spark, sf_dir).select("item_id", "tile_id", "proc_version")


def _q_scene_search_filtered(spark, sf_dir):
    """S4/S6 with the full parameter surface: bbox + time + collections +
    property query (orbit_state/proc_version), the reference's search_params
    path (store.py:577-595, query filter utils.py:248-280)."""
    df = spatial.search_scenes(
        _cat(spark, sf_dir).scenes(),
        bbox=REGION,
        time_range=TIME_RANGE,
        collections=["syn-l2a"],
        query={"orbit_state": ["descending"], "proc_version": ["05.00", "05.11"]},
    )
    return df.select("item_id", "tile_id", "orbit_state", "proc_version")


def _q_dedup_latest(spark, sf_dir):
    df = spatial.dedup_latest_version(_searched(spark, sf_dir))
    return df.select(
        "item_id", "tile_id", F.col("solar_day").cast("string").alias("solar_day"),
        "proc_version",
    )


def _q_cell_cover(spark, sf_dir):
    df = spatial.cover_with_cells(_searched(spark, sf_dir), LEVEL)
    return df.select("item_id", "cell")


def _q_spatial_join_region(spark, sf_dir):
    df = spatial.spatial_join_region(_searched(spark, sf_dir), REGION, LEVEL, refine="bbox")
    return df.select("item_id", "tile_id")


def _q_knn_tiles(spark, sf_dir):
    df = spatial.knn_scenes(_searched(spark, sf_dir), KNN_POINT[0], KNN_POINT[1], KNN_K)
    return df.select("tile_id", "knn_rank", F.round("dist2", 6).alias("dist2"))


def _q_bbox_union(spark, sf_dir):
    df = spatial.bbox_union(_searched(spark, sf_dir))
    return df.select(
        "tile_id",
        F.round("xmin", 6).alias("xmin"), F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"), F.round("ymax", 6).alias("ymax"),
        "n_scenes",
    )


def _q_lineage(spark, sf_dir):
    df = spatial.lineage_per_time(_searched(spark, sf_dir))
    return df.select(
        F.col("solar_day").cast("string").alias("solar_day"), "item_ids", "n_items"
    )


def _q_hemisphere_fix(spark, sf_dir):
    scn = _cat(spark, sf_dir).scenes()
    center_lat = X.bbox_center_lat(F.col("bbox_ymin"), F.col("bbox_ymax"))
    return scn.select(
        "item_id", "proj_code",
        X.fix_hemisphere(F.col("proj_code"), center_lat).alias("proj_code_fixed"),
    )


def _q_collections_stats(spark, sf_dir):
    df = _cat(spark, sf_dir).collections()
    return df.select(
        "collection", "n_items",
        F.round("xmin", 6).alias("xmin"), F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"), F.round("ymax", 6).alias("ymax"),
    )


def _q_cube_build(spark, sf_dir):
    """Flagship pixel pipeline — decode/regrid/mosaic in Arrow UDFs. The
    DuckDB oracle reads a fixture parquet computed by the independent NumPy
    implementation (fixtures.py / oracle.build_cube_numpy); pixel values are
    additionally bit-exact-checked in tests/test_cube_pipeline.py."""
    sf = os.path.basename(os.path.normpath(sf_dir))
    if sf not in synth.PARAMS:
        sf = "sf0.01"
    cat = _cat(spark, sf_dir)
    grid = synth.default_grid(sf)
    cube = cube_plan.build_cube(
        cat, grid, time_range=TIME_RANGE, bands=fixtures.CUBE_BANDS
    )
    return cube.select(
        F.col("solar_day").cast("string").alias("solar_day"),
        "band", "tile_y", "tile_x", "n_scenes", "item_ids",
        F.round("valid_frac", 6).alias("valid_frac"),
    )


def _q_data_ids(spark, sf_dir):
    """S7 data-id enumeration with selected attrs (store.py:131-146)."""
    return _cat(spark, sf_dir).data_ids(["tile_id", "proc_version"])


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings / events / images)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _aug_docs(spark, sf_dir):
    """Corpus augmented with controlled duplicates so dedup operators have
    real work: every 5th doc gets a near-copy (first 5 tokens dropped,
    doc_id+100000), every 7th an exact copy (doc_id+200000). Mirrored
    verbatim in the oracle SQL."""
    docs = _docs(spark, sf_dir).select("doc_id", F.lower("text").alias("text"))
    toks = F.split(F.col("text"), " ")
    near = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 6, F.size(toks))).alias("text"),
    )
    exact = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact)


def _q_exact_dedup(spark, sf_dir):
    return text_op.exact_dedup(_aug_docs(spark, sf_dir))


def _q_minhash_near_dup(spark, sf_dir):
    return text_op.minhash_near_dups(_aug_docs(spark, sf_dir), threshold=0.5)


def _q_dedup_resolve(spark, sf_dir):
    """Near-dup PAIR RESOLUTION: connected components over the minhash
    near-dup pair graph (min-label propagation + pointer jumping), one
    canonical doc per cluster. Oracle: DuckDB recursive-CTE transitive
    closure over the SAME pair SQL — full row-hash parity."""
    pairs = text_op.minhash_near_dups(_aug_docs(spark, sf_dir), threshold=0.5)
    return text_op.resolve_components(pairs, "doc_a", "doc_b")


def _q_image_near_dup(spark, sf_dir):
    """pHash near-dup pairs over the image table (exact-collapse + banded
    LSH over distinct hashes); oracle = same banding in DuckDB SQL."""
    return mm_op.image_near_dup(_cat(spark, sf_dir).images(), max_hamming=4)


def _q_repetition_metrics(spark, sf_dir):
    """Gopher-style per-doc repetition filters (dup-word / top-word /
    dup-ngram fractions) — zero-shuffle narrow metrics."""
    return text_op.repetition_metrics(_docs(spark, sf_dir))


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: the eval set is a deterministic slice of
    the corpus itself (every 11th base doc contributes tokens 5..12 as a
    synthetic benchmark item), so the operator must flag those source docs
    AND their near/exact copies from the augmented corpus. Oracle: the
    same gram join in DuckDB."""
    docs = _aug_docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    evals = docs.where((F.col("doc_id") % 11 == 3) & (F.col("doc_id") < 100000)).select(
        (F.col("doc_id") + 500000).alias("eval_id"),
        F.concat_ws(" ", F.slice(toks, 5, 8)).alias("text"),
    )
    return text_op.decontaminate(docs, evals, ngram=3)


#: mixture-rebalance rates for the stratified_sample query (per source;
#: everything else at 0.6) — mirrored as exact integer thresholds in the SQL
STRAT_RATES = {"src0": 0.9, "src1": 0.5, "src2": 0.25}
STRAT_DEFAULT = 0.6


def _q_stratified_sample(spark, sf_dir):
    """Deterministic hash-threshold mixture rebalance over (source) strata
    with Horvitz-Thompson weights — pure codegen filter, zero shuffle."""
    docs = _docs(spark, sf_dir)
    return sampling_op.stratified_sample(
        docs, "source", STRAT_RATES, "doc_id", default_rate=STRAT_DEFAULT
    ).select("doc_id", "lang", "source", "weight")


def _q_ngram_jaccard(spark, sf_dir):
    return text_op.ngram_jaccard_pairs(_aug_docs(spark, sf_dir), threshold=0.5)


def _q_simhash(spark, sf_dir):
    return text_op.simhash(_docs(spark, sf_dir))


def _q_simhash_near(spark, sf_dir):
    return text_op.simhash_near_pairs(_aug_docs(spark, sf_dir), max_hamming=12)


def _q_lang_id(spark, sf_dir):
    return text_op.lang_id(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    return text_op.quality_score(_docs(spark, sf_dir))


def _q_token_counts(spark, sf_dir):
    return text_op.token_counts(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return text_op.fingerprint(_docs(spark, sf_dir))


PACK_SEQ_LEN, PACK_SHARDS = 256, 8


def _q_pack_sequences(spark, sf_dir):
    """FFD sequence packing (text.py pack_sequences) as an invariant audit:
    ONE row whose every value the DuckDB oracle predicts independently from
    the base table — conservation (total packed tokens == sum of per-doc
    truncated budgets), multiplicity (each doc in exactly one sequence),
    capacity (no sequence over seq_len), and the FFD fill guarantee (at
    most one under-half-full bin per shard, so n_seqs <=
    floor(total/(L/2)) + shards). A packing that breaks any invariant
    hash-mismatches the oracle."""
    L, shards = PACK_SEQ_LEN, PACK_SHARDS
    # the audit aggregates the packing TWICE (sequence invariants + doc
    # multiplicity); a lazy checkpoint shares one FFD materialization
    # within this invocation — each call builds a fresh RDD, so nothing is
    # reused across bench/oracle runs
    packed = text_op.pack_sequences(
        _docs(spark, sf_dir), seq_len=L, shards=shards
    ).localCheckpoint(eager=False)
    seq = packed.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count("*").alias("n_seqs"),
        F.sum(F.when(F.col("n_tokens") > L, 1).otherwise(0))
        .cast("long")
        .alias("over_capacity_seqs"),
    )
    docs = (
        packed.select(F.explode("doc_ids").alias("doc_id"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_doc_rows"),
        )
    )
    return seq.crossJoin(docs).select(
        "n_docs",
        (F.col("n_doc_rows") == F.col("n_docs")).alias("each_doc_once"),
        "total_tokens",
        "over_capacity_seqs",
        (
            F.col("n_seqs")
            <= F.floor(F.col("total_tokens") / F.lit(L / 2.0)) + F.lit(shards)
        ).alias("fill_bound_ok"),
    )


ANN_QUERY_IDS = (0, 1, 2)
ANN_K = 10
ANN_MASK_DIMS = 8  # planted near-dup = copy with first 8 dims zeroed
ANN_NEAR_THRESHOLD = 0.9


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _aug_emb(spark, sf_dir):
    """Embedding corpus augmented with planted near-duplicates: every 10th
    vector gets a copy (vec_id+100000) whose first ANN_MASK_DIMS dims are
    zeroed — cosine ≈ 0.8-0.99 vs its source (the embedding twin of the
    text near-copies). Mirrored verbatim in the oracle SQL."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    masked = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(*[F.lit(0.0).cast("float")] * ANN_MASK_DIMS),
            F.slice(F.col("embedding"), ANN_MASK_DIMS + 1, ann_op.EMB_DIM - ANN_MASK_DIMS),
        ).alias("embedding"),
    )
    return e.unionByName(masked)


def _ann_queries_df(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return e.where(F.col("vec_id").isin(list(ANN_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _q_ann_topk(spark, sf_dir):
    return ann_op.brute_force_topk(
        _emb(spark, sf_dir), _ann_queries_df(spark, sf_dir), ANN_K
    )


def _q_ann_lsh_topk(spark, sf_dir):
    return ann_op.lsh_topk(_emb(spark, sf_dir), _ann_queries_df(spark, sf_dir), ANN_K)


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN (the second scale path next to LSH): oracle
    is a NumPy fixture replicating the deterministic k-means + probe."""
    return ann_op.ivf_topk(
        _emb(spark, sf_dir).select("vec_id", "embedding"),
        _ann_queries_df(spark, sf_dir),
        fixtures.IVF_TOPK_K,
    )


def _q_audio_features(spark, sf_dir):
    """Audio modality: real RIFF/PCM16 WAV decode + per-clip features
    (duration/RMS/peak/zero-crossing rate) over the opaque binary column.
    Oracle = fixture whose parser is the INDEPENDENT stdlib ``wave``
    module, so the container parse itself is cross-checked."""
    sf = os.path.basename(os.path.normpath(sf_dir))
    if sf not in synth.PARAMS:
        sf = "sf0.01"
    audio = spark.read.parquet(synth.ensure_audio(sf))
    return mm_op.audio_features(audio).select(
        "audio_id", "sr", "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        "peak",
        F.round("zcr", 6).alias("zcr"),
    )


def _q_layout_scene_search(spark, sf_dir):
    """J1/S4 served from the at-rest SPATIAL layout: scenes materialized
    partitioned by coarse covering cell (write_scene_layout), then the
    region query runs as a statically partition-pruned scan + refine
    (probe_scene_layout). The layout is a materialization, not new
    semantics, so the oracle is spatial_join_region's SQL verbatim."""
    import tempfile

    cat = _cat(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"xss_scene_layout_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    spatial.write_scene_layout(cat.scenes(), path)
    return spatial.probe_scene_layout(
        spark, path, REGION, time_range=TIME_RANGE
    ).select("item_id", "tile_id")


def _q_layout_append(spark, sf_dir):
    """INCREMENTAL at-rest layout maintenance: the scene catalog split into
    a base batch (even days of month) written as a fresh layout and the odd
    days APPENDED (write_scene_layout + append_scene_layout — new files
    only, base partitions untouched, mtime-pinned by test). The probe spans
    both batches, so the result equals the base-table recompute — oracle =
    spatial_join_region's SQL verbatim."""
    import tempfile

    cat = _cat(spark, sf_dir)
    scenes = cat.scenes()
    path = os.path.join(
        tempfile.gettempdir(),
        f"xss_scene_layout_append_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    t = F.coalesce(F.col("datetime"), F.col("start_datetime"))
    base = scenes.where(F.dayofmonth(t) % 2 == 0)
    later = scenes.where(F.dayofmonth(t) % 2 == 1)
    spatial.write_scene_layout(base, path)
    spatial.append_scene_layout(later, path)
    return spatial.probe_scene_layout(
        spark, path, REGION, time_range=TIME_RANGE
    ).select("item_id", "tile_id")


def _q_embedding_clusters(spark, sf_dir):
    """K-means document clustering over the embeddings table (the
    training-pipeline corpus-partitioning op): deterministic sample-based
    Lloyd codebook (operators/ann.ivf_train) + one distributed assignment
    pass. Oracle = NumPy fixture replicating codebook + first-min
    assignment bit-for-bit."""
    from xcube_stac_spark.operators.ann import _ivf_assign_udf, ivf_train

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    C = ivf_train(emb)
    return emb.select(
        "vec_id", _ivf_assign_udf(C)(F.col("embedding")).alias("cluster")
    )


def _q_ann_near_dup(spark, sf_dir):
    return ann_op.near_dup_pairs(
        _aug_emb(spark, sf_dir), threshold=ANN_NEAR_THRESHOLD
    )


def _q_events_sessionize(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return events_op.sessionize(ev)


def _q_events_window(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return events_op.tumbling_window_agg(ev, minutes=60)


def _q_time_spine(spark, sf_dir):
    """U2 time reindex-with-fill over metadata: full day-spine x tile grid
    left-joined against per-(day, tile) scene counts; missing combinations
    surface as zeros (the SQL-checkable face of tiles.time_spine)."""
    scn = spatial.with_solar_day(_searched(spark, sf_dir))
    days = spark.sql(
        "select explode(sequence(to_date('2025-06-01'), to_date('2025-06-16'), interval 1 day)) as solar_day"
    )
    tiles_df = scn.select("tile_id").distinct()
    counts = scn.groupBy("solar_day", "tile_id").agg(F.count("*").alias("n"))
    spine = days.crossJoin(tiles_df)
    return (
        spine.join(counts, ["solar_day", "tile_id"], "left")
        .select(
            F.col("solar_day").cast("string").alias("solar_day"),
            "tile_id",
            F.coalesce("n", F.lit(0)).alias("n_items"),
        )
    )


def _q_caption_check(spark, sf_dir):
    """North-rule per-row invariant: caption equality. Every image's caption
    must equal the deterministic template reconstructed from its joined
    scene/asset metadata — a full-corpus equality audit, pure SQL."""
    cat = _cat(spark, sf_dir)
    scn = spatial.with_solar_day(cat.scenes()).select(
        "item_id", "tile_id",
        F.date_format(F.col("nominal_datetime"), "yyyy-MM-dd").alias("day_str"),
    )
    j = (
        cat.images().select("image_id", "caption")
        .join(cat.assets().select("image_id", "item_id", "band"), "image_id")
        .join(scn, "item_id")
    )
    expected = F.concat(
        F.lit("scene "), F.col("item_id"), F.lit(" band "), F.col("band"),
        F.lit(" day "), F.col("day_str"), F.lit(" tile "), F.col("tile_id"),
    )
    return j.select(
        "image_id",
        (F.col("caption") == expected).alias("caption_ok"),
    )


def _q_image_stats(spark, sf_dir):
    """Multimodal decode + stats + pHash verify over the image table —
    binary decode; oracle = fixture parquet from the single-process decode
    in fixtures.py."""
    imgs = _cat(spark, sf_dir).images()
    return mm_op.image_stats(imgs).select(
        "image_id", "fmt",
        F.round("mean", 3).alias("mean"), F.round("std", 3).alias("std"),
        "phash_hamming",
    )


def _q_thumbnails(spark, sf_dir):
    """Multimodal decode + block-mean resize: per-image 16x16 uint16
    thumbnail, reported as an md5 digest so the full pixel payload is
    value-checked without hauling binaries through the compare."""
    imgs = _cat(spark, sf_dir).images()
    t = mm_op.thumbnails(imgs, tw=fixtures.THUMB_W, th=fixtures.THUMB_H)
    return t.select("image_id", "tw", "th", F.md5("thumb").alias("thumb_md5"))


def _q_video_frames(spark, sf_dir):
    """Video modality (S11's last real format): MJPEG-in-AVI clips decoded
    through the engine's OWN RIFF container + baseline-JPEG codec, sampling
    N evenly-spaced frames per clip via the idx1 index (only the sampled
    JPEG payloads are decoded — O(k) per clip at any clip length). Oracle =
    fixture whose container parse is an INDEPENDENT sequential RIFF walker
    (movi-list scan, not the engine's index-seek path)."""
    sf = os.path.basename(os.path.normpath(sf_dir))
    if sf not in synth.PARAMS:
        sf = "sf0.01"
    videos = spark.read.parquet(synth.ensure_video(sf))
    f = mm_op.frame_sample(videos, n_frames=fixtures.N_FRAMES)
    return f.select(
        "video_id", "frame_idx", "src_frame",
        F.round("t_sec", 6).alias("t_sec"),
        F.round("frame_mean", 6).alias("frame_mean"),
        F.round("frame_std", 6).alias("frame_std"),
    )


def _q_angles_cube(spark, sf_dir):
    """C14/C15: viewing-angle planes (23x23 @ tile-span/23 ≈ 5 km) PARSED
    FROM GRANULE XML (sources/angles.py, reference sen2.py:997-1112:
    detector nanmean-merge, Geoposition geo-referencing) and regridded
    through the SAME pipeline as spectral bands. Oracle = NumPy fixture
    parquet computed from the images-table angle path — the two paths must
    agree bit-exactly."""
    from xcube_stac_spark.sources import angles as angles_src

    sf = os.path.basename(os.path.normpath(sf_dir))
    if sf not in synth.PARAMS:
        sf = "sf0.01"
    cat = _cat(spark, sf_dir)
    grid = synth.default_grid(sf)
    cube = angles_src.angles_cube_from_xml(
        cat, grid, time_range=fixtures.ANGLE_TIME_RANGE, bands=fixtures.ANGLE_BANDS
    )
    return cube.select(
        F.col("solar_day").cast("string").alias("solar_day"),
        "band", "tile_y", "tile_x", "n_scenes",
        F.round("valid_frac", 6).alias("valid_frac"),
    )


def _q_mean_time_per_group(spark, sf_dir):
    """A3: mean timestamp per (solar_day, orbit_state) group — the Sen3
    int64-view datetime averaging (sen3.py:583-589), as epoch seconds."""
    df = spatial.with_solar_day(_searched(spark, sf_dir)).withColumn(
        "t_sec", F.expr("unix_micros(nominal_datetime) div 1000000")
    )
    # all-integer mean (sum div count) so both engines are bit-exact
    return df.groupBy(
        F.col("solar_day").cast("string").alias("solar_day"), "orbit_state"
    ).agg(
        F.expr("sum(t_sec) div count(*)").alias("mean_epoch_sec"),
        F.count("*").alias("n_items"),
    )


def _q_band_pivot(spark, sf_dir):
    """U3 variable update-merge shape: long band rows → wide per-item
    columns via conditional aggregation (tiles.pivot_bands)."""
    from xcube_stac_spark.operators import tiles as tiles_op

    assets = _cat(spark, sf_dir).assets()
    return tiles_op.pivot_bands(assets, ["B02", "B03", "B04"], "fmt", ["item_id"])


def _q_salted_spatial_join(spark, sf_dir):
    """Same result as spatial_join_region, executed through the explicit
    salted equi-join (skew path) instead of the broadcast path — the oracle
    equality proves the two physical strategies agree."""
    scenes = _searched(spark, sf_dir)
    cells_df = spatial.region_cells_df(spark, REGION, LEVEL)
    covered = spatial.cover_with_cells(scenes, LEVEL)
    joined = spatial.salted_cell_join(covered, cells_df, on="cell", salt=8)
    x0, y0, x1, y1 = REGION
    return (
        joined.dropDuplicates(["item_id"])
        .where(
            X.bbox_intersects(
                F.col("bbox_xmin"), F.col("bbox_ymin"),
                F.col("bbox_xmax"), F.col("bbox_ymax"), x0, y0, x1, y1,
            )
        )
        .select("item_id", "tile_id")
    )


def _q_uv_clip(spark, sf_dir):
    """J6/F12 TPS-UV swath clip (thin-plate-spline solve); oracle = fixture
    parquet from the single-process TPS in fixtures.py."""
    from xcube_stac_spark.operators import swath as swath_op

    scenes = _searched(spark, sf_dir)
    out = swath_op.uv_clip_scenes(scenes, REGION)
    return out.select(
        "item_id", "hit",
        F.round("u0", 6).alias("u0"), F.round("v0", 6).alias("v0"),
        F.round("u1", 6).alias("u1"), F.round("v1", 6).alias("v1"),
    )


def _q_orthorectify(spark, sf_dir):
    """J11 parallax correction over synthetic swaths — corrected-plane means
    checked against the fixture oracle; per-pixel formula-verified in
    tests."""
    from xcube_stac_spark import synth as synth_mod
    from xcube_stac_spark.operators import swath as swath_op

    swaths = spark.createDataFrame(synth_mod.swath_rows(), synth_mod.SWATH_DDL)
    return swath_op.orthorectify(swaths).select(
        "item_id", "rows", "cols",
        F.round("lon_mean", 6).alias("lon_mean"),
        F.round("lat_mean", 6).alias("lat_mean"),
    )


def _q_rectify_swath(spark, sf_dir):
    """J12 curvilinear→regular rectification — per-tile valid counts checked
    against the fixture oracle; pixel values NumPy-verified in tests."""
    from xcube_stac_spark import synth as synth_mod
    from xcube_stac_spark.gridspec import GridSpec
    from xcube_stac_spark.operators import swath as swath_op

    swaths = spark.createDataFrame(synth_mod.swath_rows(), synth_mod.SWATH_DDL)
    grid = GridSpec(**fixtures.RECTIFY_GRID)
    return swath_op.rectify_swath(swaths, grid).select(
        "item_id", "var", "tile_y", "tile_x", "valid"
    )


def _q_rectify_swath_nc(spark, sf_dir):
    """S9 as a real reader: the SAME rectification fed from NetCDF-3
    classic swath granules (pure-struct codecs.decode_netcdf3 — the
    reference's Sentinel-3 .nc container, accessors/sen3.py:172-173).
    Oracle = the rectify_swath fixture: the nc path must land exactly on
    the columnar path's answer, proving the container decode."""
    from xcube_stac_spark import synth as synth_mod
    from xcube_stac_spark.gridspec import GridSpec
    from xcube_stac_spark.operators import swath as swath_op

    nc = spark.createDataFrame(synth_mod.swath_nc_rows(), synth_mod.SWATH_NC_DDL)
    grid = GridSpec(**fixtures.RECTIFY_GRID)
    return swath_op.rectify_swath(swath_op.swaths_from_netcdf(nc), grid).select(
        "item_id", "var", "tile_y", "tile_x", "valid"
    )


def _q_pyramid(spark, sf_dir):
    """MultiLevelDataset pyramid — per-level tile counts + mean validity
    checked against the canvas-based NumPy fixture oracle."""
    from xcube_stac_spark.operators import pyramid as pyr_op

    sf = os.path.basename(os.path.normpath(sf_dir))
    if sf not in synth.PARAMS:
        sf = "sf0.01"
    cat = _cat(spark, sf_dir)
    grid = synth.default_grid(sf)
    cube = cube_plan.build_cube(
        cat, grid, time_range=fixtures.PYR_TIME_RANGE, bands=fixtures.PYR_BANDS
    )
    pyr = pyr_op.build_pyramid(cube, grid, levels=fixtures.PYR_LEVELS)
    return pyr.groupBy("level").agg(
        F.count("*").alias("n_tiles"),
        F.round(F.avg("valid_frac"), 4).alias("avg_valid_frac"),
    )


def _q_describe_data(spark, sf_dir):
    """search_data → DatasetDescriptor projection (store.py:219-242):
    per-item (data_id, bbox, time_range, crs)."""
    return _cat(spark, sf_dir).describe_data()


def _q_pyramid_combined(spark, sf_dir):
    """CombinedMultiLevelDataset (accessors/base.py:86-100): compose the
    B02 pyramid, the VZA pyramid and a DUPLICATE B02 pyramid; first-input
    precedence suppresses the duplicate's colliding keys. Oracle = fixture
    from the canvas-based NumPy pyramid per band."""
    from xcube_stac_spark.operators import pyramid as pyr_op

    sf = os.path.basename(os.path.normpath(sf_dir))
    if sf not in synth.PARAMS:
        sf = "sf0.01"
    cat = _cat(spark, sf_dir)
    grid = synth.default_grid(sf)

    def pyr(band):
        cube = cube_plan.build_cube(
            cat, grid, time_range=fixtures.PYR_TIME_RANGE, bands=[band]
        )
        return pyr_op.build_pyramid(cube, grid, levels=fixtures.PYR_LEVELS)

    b02 = pyr("B02")
    combined = pyr_op.combine_pyramids([b02, pyr("VZA"), b02])
    return combined.groupBy("level", "band").agg(
        F.count("*").alias("n_tiles"),
        F.round(F.avg("valid_frac"), 4).alias("avg_valid_frac"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver records correctness for at most 50 queries (r4 evidence:
    # 51 registered -> 50 rows, describe_data silently dropped), so this
    # registry is held at EXACTLY 50. Retired from the driver set, still
    # fully covered by tests + bench lines: salted_spatial_join (same
    # output as spatial_join_region; salting pinned by
    # test_salted_cell_join_bounds_hot_cell_tasks + skew_join_* bench
    # lines) and pyramid_combined (fixture-oracled by
    # tests/test_swath_pyramid.py; the single-band pyramid query stays).
    return {
        "scene_search": _q_scene_search,
        "scene_search_filtered": _q_scene_search_filtered,
        "image_near_dup": _q_image_near_dup,
        "dedup_latest": _q_dedup_latest,
        "cell_cover": _q_cell_cover,
        "spatial_join_region": _q_spatial_join_region,
        "knn_tiles": _q_knn_tiles,
        "bbox_union": _q_bbox_union,
        "lineage": _q_lineage,
        "hemisphere_fix": _q_hemisphere_fix,
        "collections_stats": _q_collections_stats,
        "cube_build": _q_cube_build,
        "dedup_resolve": _q_dedup_resolve,
        "pack_sequences": _q_pack_sequences,
        "decontaminate": _q_decontaminate,
        "repetition_metrics": _q_repetition_metrics,
        "stratified_sample": _q_stratified_sample,
        "exact_dedup": _q_exact_dedup,
        "minhash_near_dup": _q_minhash_near_dup,
        "ngram_jaccard": _q_ngram_jaccard,
        "simhash": _q_simhash,
        "simhash_near": _q_simhash_near,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality,
        "token_counts": _q_token_counts,
        "fingerprint": _q_fingerprint,
        "ann_topk": _q_ann_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "embedding_clusters": _q_embedding_clusters,
        "audio_features": _q_audio_features,
        "layout_scene_search": _q_layout_scene_search,
        "ann_near_dup": _q_ann_near_dup,
        "events_sessionize": _q_events_sessionize,
        "events_window": _q_events_window,
        "image_stats": _q_image_stats,
        "thumbnails": _q_thumbnails,
        "video_frames": _q_video_frames,
        "caption_check": _q_caption_check,
        "time_spine": _q_time_spine,
        "angles_cube": _q_angles_cube,
        "mean_time_per_group": _q_mean_time_per_group,
        "band_pivot": _q_band_pivot,
        "uv_clip": _q_uv_clip,
        "orthorectify": _q_orthorectify,
        "rectify_swath": _q_rectify_swath,
        "rectify_swath_nc": _q_rectify_swath_nc,
        "pyramid": _q_pyramid,
        "describe_data": _q_describe_data,
        "layout_append": _q_layout_append,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------

_SCENES = f"read_parquet('{SYNTH_SF001}/scenes.parquet')"

# the search_scenes predicate (bbox-less variant used by most queries)
_SEARCH_CTE = f"""
searched AS (
  SELECT * FROM {_SCENES}
  WHERE abs(bbox_xmax - bbox_xmin) < 20
    AND (
      (datetime IS NOT NULL AND epoch(datetime) BETWEEN epoch(TIMESTAMP '{TIME_RANGE[0]}') AND epoch(TIMESTAMP '{TIME_RANGE[1]}'))
      OR (datetime IS NULL AND epoch(start_datetime) <= epoch(TIMESTAMP '{TIME_RANGE[1]}')
          AND epoch(end_datetime) >= epoch(TIMESTAMP '{TIME_RANGE[0]}'))
    )
)"""

_SOLAR_CTE = """
solar AS (
  SELECT *,
    strftime(to_timestamp(epoch(coalesce(datetime, start_datetime + (end_datetime - start_datetime) / 2))
             + trunc(((bbox_xmin + bbox_xmax) / 2) / 15) * 3600), '%Y-%m-%d') AS solar_day
  FROM searched
)"""


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}
    sqls["scene_search"] = f"WITH {_SEARCH_CTE.strip()} SELECT item_id, tile_id, proc_version FROM searched"
    x0, y0, x1, y1 = REGION
    sqls["scene_search_filtered"] = f"""
WITH {_SEARCH_CTE.strip()}
SELECT item_id, tile_id, orbit_state, proc_version FROM searched
WHERE NOT (bbox_xmax < {x0} OR bbox_xmin > {x1} OR bbox_ymax < {y0} OR bbox_ymin > {y1})
  AND collection = 'syn-l2a'
  AND orbit_state IN ('descending')
  AND proc_version IN ('05.00', '05.11')
"""
    sqls["dedup_latest"] = f"""
WITH {_SEARCH_CTE.strip()}, {_SOLAR_CTE.strip()},
ranked AS (
  SELECT *, max(proc_version) OVER (PARTITION BY solar_day, tile_id) AS mv FROM solar
)
SELECT item_id, tile_id, solar_day, proc_version FROM ranked WHERE proc_version = mv
"""
    sqls["cell_cover"] = f"""
WITH {_SEARCH_CTE.strip()}
SELECT item_id, (cy * {NC} + cx) AS cell
FROM searched,
LATERAL (SELECT unnest(generate_series(
    greatest(least(cast(floor((bbox_xmin+180)/{CELL!r}) AS bigint), {NC - 1}), 0),
    greatest(least(cast(floor((bbox_xmax+180)/{CELL!r}) AS bigint), {NC - 1}), 0))) AS cx) t1,
LATERAL (SELECT unnest(generate_series(
    greatest(least(cast(floor((bbox_ymin+90)/{CELL!r}) AS bigint), {NR - 1}), 0),
    greatest(least(cast(floor((bbox_ymax+90)/{CELL!r}) AS bigint), {NR - 1}), 0))) AS cy) t2
"""
    x0, y0, x1, y1 = REGION
    sqls["spatial_join_region"] = f"""
WITH {_SEARCH_CTE.strip()}
SELECT item_id, tile_id FROM searched
WHERE NOT (bbox_xmax < {x0} OR bbox_xmin > {x1} OR bbox_ymax < {y0} OR bbox_ymin > {y1})
"""
    sqls["knn_tiles"] = f"""
WITH {_SEARCH_CTE.strip()},
tiles AS (
  SELECT tile_id, min(bbox_xmin) AS xmin, min(bbox_ymin) AS ymin,
         max(bbox_xmax) AS xmax, max(bbox_ymax) AS ymax
  FROM searched GROUP BY tile_id
),
d AS (
  SELECT tile_id,
         pow((xmin + xmax)/2 - {KNN_POINT[0]}, 2) + pow((ymin + ymax)/2 - {KNN_POINT[1]}, 2) AS dist2
  FROM tiles
),
r AS (SELECT tile_id, dist2, row_number() OVER (ORDER BY dist2 ASC, tile_id ASC) AS knn_rank FROM d)
SELECT tile_id, knn_rank, round(dist2, 6) AS dist2 FROM r WHERE knn_rank <= {KNN_K}
"""
    sqls["bbox_union"] = f"""
WITH {_SEARCH_CTE.strip()}
SELECT tile_id, round(min(bbox_xmin), 6) AS xmin, round(min(bbox_ymin), 6) AS ymin,
       round(max(bbox_xmax), 6) AS xmax, round(max(bbox_ymax), 6) AS ymax,
       count(*) AS n_scenes
FROM searched GROUP BY tile_id
"""
    sqls["lineage"] = f"""
WITH {_SEARCH_CTE.strip()}, {_SOLAR_CTE.strip()}
SELECT solar_day, string_agg(item_id, ',' ORDER BY item_id) AS item_ids, count(*) AS n_items
FROM solar GROUP BY solar_day
"""
    sqls["hemisphere_fix"] = f"""
SELECT item_id, proj_code,
  CASE WHEN cast(split_part(proj_code, ':', 2) AS int) BETWEEN 32601 AND 32760
    THEN 'EPSG:' || cast(
      CASE WHEN (bbox_ymin + bbox_ymax)/2 >= 0
        THEN cast(split_part(proj_code, ':', 2) AS int) % 100 + 32600
        ELSE cast(split_part(proj_code, ':', 2) AS int) % 100 + 32700 END AS varchar)
    ELSE proj_code END AS proj_code_fixed
FROM {_SCENES}
"""
    sqls["collections_stats"] = f"""
SELECT collection, count(*) AS n_items,
       round(min(bbox_xmin), 6) AS xmin, round(min(bbox_ymin), 6) AS ymin,
       round(max(bbox_xmax), 6) AS xmax, round(max(bbox_ymax), 6) AS ymax
FROM {_SCENES} GROUP BY collection
"""
    sqls["time_spine"] = f"""
WITH {_SEARCH_CTE.strip()}, {_SOLAR_CTE.strip()},
days AS (
  SELECT strftime(unnest(generate_series(DATE '2025-06-01', DATE '2025-06-16', INTERVAL 1 DAY)), '%Y-%m-%d') AS solar_day
),
tiles AS (SELECT DISTINCT tile_id FROM solar),
counts AS (SELECT solar_day, tile_id, count(*) AS n FROM solar GROUP BY 1, 2)
SELECT d.solar_day, t.tile_id, coalesce(c.n, 0) AS n_items
FROM days d CROSS JOIN tiles t
LEFT JOIN counts c ON c.solar_day = d.solar_day AND c.tile_id = t.tile_id
"""
    # image_near_dup: exact-collapse to distinct phash values, then the
    # SAME 4x16-bit banding + hamming verify the Spark operator runs
    sqls["image_near_dup"] = f"""
WITH i AS (SELECT image_id, phash FROM read_parquet('{SYNTH_SF001}/images.parquet')),
g AS (SELECT phash, min(image_id) AS rep, count(*) AS n_images FROM i GROUP BY phash),
b AS (
  SELECT phash, k AS band, (phash >> (16 * k)) & 65535 AS key
  FROM g, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) s
),
cand AS (
  SELECT DISTINCT a.phash AS pa, c.phash AS pb
  FROM b a JOIN b c ON a.band = c.band AND a.key = c.key AND a.phash < c.phash
),
pairs AS (
  SELECT pa, pb, bit_count(xor(pa, pb)) AS hamming FROM cand
  WHERE bit_count(xor(pa, pb)) <= 4
)
SELECT ga.rep AS rep_a, gb.rep AS rep_b, p.hamming,
       ga.n_images AS n_a, gb.n_images AS n_b
FROM pairs p
JOIN g ga ON ga.phash = p.pa
JOIN g gb ON gb.phash = p.pb
"""
    sqls["caption_check"] = f"""
WITH s AS (
  SELECT item_id, tile_id,
    strftime(to_timestamp(epoch(coalesce(datetime, start_datetime + (end_datetime - start_datetime) / 2))), '%Y-%m-%d') AS day_str
  FROM {_SCENES}
)
SELECT i.image_id,
  (i.caption = 'scene ' || a.item_id || ' band ' || a.band || ' day ' || s.day_str || ' tile ' || s.tile_id) AS caption_ok
FROM read_parquet('{SYNTH_SF001}/images.parquet') i
JOIN read_parquet('{SYNTH_SF001}/assets.parquet') a ON a.image_id = i.image_id
JOIN s ON s.item_id = a.item_id
"""
    sqls["data_ids"] = f"""
SELECT item_id, tile_id, proc_version FROM {_SCENES}
"""
    sqls["describe_data"] = f"""
SELECT item_id AS data_id,
       bbox_xmin AS xmin, bbox_ymin AS ymin, bbox_xmax AS xmax, bbox_ymax AS ymax,
       CASE WHEN start_datetime IS NOT NULL AND end_datetime IS NOT NULL
            THEN strftime(start_datetime, '%Y-%m-%d %H:%M:%S')
            ELSE strftime(datetime, '%Y-%m-%d %H:%M:%S') END AS t_start,
       CASE WHEN start_datetime IS NOT NULL AND end_datetime IS NOT NULL
            THEN strftime(end_datetime, '%Y-%m-%d %H:%M:%S')
            ELSE NULL END AS t_end,
       proj_code AS crs
FROM {_SCENES}
"""
    # stratified_sample: integer-threshold compare in hash space — the
    # thresholds are the EXACT floor(rate*2^32) literals the Spark operator
    # uses, so there is no float seam anywhere in the keep decision
    _thr = sampling_op.rate_thresholds(STRAT_RATES)
    _dthr = int(STRAT_DEFAULT * (1 << 32))
    _thr_case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {t}" for s, t in _thr.items()
    ) + f" ELSE {_dthr} END"
    _rate_case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in STRAT_RATES.items()
    ) + f" ELSE {STRAT_DEFAULT} END"
    sqls["stratified_sample"] = f"""
SELECT doc_id, lang, source, round(1.0 / ({_rate_case}), 6) AS weight
FROM documents
WHERE ('0x' || substr(md5('strat:' || cast(doc_id AS varchar)), 1, 8))::bigint
      < ({_thr_case})
"""
    sqls["mean_time_per_group"] = f"""
WITH {_SEARCH_CTE.strip()}, {_SOLAR_CTE.strip()},
n AS (
  SELECT solar_day, orbit_state,
         epoch_us(coalesce(datetime, start_datetime + (end_datetime - start_datetime) / 2)) // 1000000 AS t_sec
  FROM solar
)
SELECT solar_day, orbit_state,
       -- cast: DuckDB's hugeint-sum // count surfaces as double; Spark's
       -- integer div is bigint — the r01 hash mismatch was this type alone
       cast(sum(t_sec) // count(*) AS bigint) AS mean_epoch_sec,
       count(*) AS n_items
FROM n GROUP BY solar_day, orbit_state
"""
    sqls["band_pivot"] = f"""
SELECT item_id,
  max(CASE WHEN band = 'B02' THEN fmt END) AS B02_fmt,
  max(CASE WHEN band = 'B03' THEN fmt END) AS B03_fmt,
  max(CASE WHEN band = 'B04' THEN fmt END) AS B04_fmt
FROM read_parquet('{SYNTH_SF001}/assets.parquet') GROUP BY item_id
"""
    # the salted join must produce EXACTLY the broadcast join's result
    sqls["salted_spatial_join"] = sqls["spatial_join_region"]
    sqls.update(_text_oracle_sql())
    sqls.update(_ann_oracle_sql())
    sqls.update(_events_oracle_sql())
    # pixel pipelines (cube/angles/image-stats/swath/pyramid): the oracle is
    # a parquet FIXTURE computed by the independent NumPy implementations in
    # fixtures.py (oracle.build_cube_numpy etc.) — SQL can't express the
    # decode/TPS/regrid/mosaic math, but DuckDB can read the golden answer
    fx_dir = fixtures.ensure_fixtures("sf0.01")
    for q in fixtures.FIXTURE_QUERIES:
        sqls[q] = f"SELECT * FROM read_parquet('{fx_dir}/{q}.parquet')"
    # the NetCDF-fed rectification must equal the columnar path exactly, so
    # it shares the rectify_swath golden answer
    sqls["rectify_swath_nc"] = sqls["rectify_swath"]
    # the at-rest spatial layout is a materialization of the same search:
    # its probe must equal the base-table region join row-for-row
    sqls["layout_scene_search"] = sqls["spatial_join_region"]
    # the append path is a materialization strategy, not new semantics: the
    # probe over base+appended batches must equal the base-table recompute
    sqls["layout_append"] = sqls["spatial_join_region"]
    return sqls


# -- text-operator oracles ---------------------------------------------------

_AUG_CTE = """
docs0 AS (SELECT doc_id, lower(text) AS text FROM documents),
aug AS (
  SELECT doc_id, text FROM docs0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string((string_split(text, ' '))[6:], ' ') AS text
  FROM docs0 WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM docs0 WHERE doc_id % 7 = 0
)"""

_GRAMS_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
)"""

_JACCARD_TAIL = """
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND ga.gram = gb.gram
  GROUP BY c.doc_a, c.doc_b
)"""


def _simhash_sql_terms() -> tuple[str, str]:
    bits = text_op.SIMHASH_BITS
    pop = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    combine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}::bigint ELSE 0 END)" for b in range(bits)
    )
    return pop, combine


def _simhash_cte(src: str) -> str:
    pop, combine = _simhash_sql_terms()
    return f"""
tokset AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM {src}
  )
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h FROM tokset
),
pops AS (
  SELECT doc_id,
    {pop}
  FROM hashed GROUP BY doc_id
),
sh AS (SELECT doc_id, {combine} AS simhash FROM pops)"""


def _text_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out["exact_dedup"] = f"""
WITH {_AUG_CTE.strip()}
SELECT md5(text) AS text_hash, min(doc_id) AS representative, count(*) AS group_size
FROM aug GROUP BY md5(text)
"""
    nh = text_op.N_HASHES
    rows_per_band = nh // text_op.N_BANDS
    # one md5 base hash per gram + per-seed affine mixes over 2^61-1 —
    # the exact (a, b) literals text.minhash_signatures derives
    mh_values = ", ".join(
        f"({s}, {a}, {b})" for s, (a, b) in enumerate(text_op._mh_params(nh))
    )
    minhash_cand = f"""
mh AS (
  SELECT doc_id, seed, min((a * h + b) % {text_op._MH_PRIME}) AS minhash
  FROM (SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::bigint AS h FROM grams) g,
       (VALUES {mh_values}) s(seed, a, b)
  GROUP BY doc_id, seed
),
bands AS (
  -- NB: integer division; DuckDB cast(double AS int) ROUNDS, Spark truncates
  SELECT doc_id, cast(seed // {rows_per_band} AS int) AS band,
         md5(string_agg(minhash::varchar, ',' ORDER BY seed)) AS band_sig
  FROM mh GROUP BY doc_id, cast(seed // {rows_per_band} AS int)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)"""
    out["minhash_near_dup"] = f"""
WITH {_AUG_CTE.strip()}, {_GRAMS_CTE.strip()}, {minhash_cand.strip()}, {_JACCARD_TAIL.strip()}
SELECT i.doc_a, i.doc_b,
       round(i.n_common / (sa.n_grams + sb.n_grams - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_common / (sa.n_grams + sb.n_grams - i.n_common), 6) >= 0.5
"""
    out["repetition_metrics"] = """
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
ws AS (SELECT doc_id, sum(c) AS n_w, count(*) AS n_wd, max(c) AS top_c FROM wc GROUP BY doc_id),
g AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
),
gs AS (SELECT doc_id, count(*) AS n_g, count(DISTINCT gram) AS n_gd FROM g GROUP BY doc_id)
SELECT ws.doc_id,
       round(1 - ws.n_wd / ws.n_w, 6) AS dup_word_frac,
       round(ws.top_c / ws.n_w, 6) AS top_word_frac,
       coalesce(round(1 - gs.n_gd / gs.n_g, 6), 0.0) AS dup_ngram_frac
FROM ws LEFT JOIN gs ON gs.doc_id = ws.doc_id
"""
    # dedup_resolve = transitive closure of the SAME minhash pair graph: a
    # recursive CTE enumerates, per node, every reachable node; min(reachable)
    # is the canonical id — the identical unique fixpoint the Spark min-label
    # propagation (text.resolve_components) converges to, independent of
    # iteration order
    out["dedup_resolve"] = f"""
WITH RECURSIVE {_AUG_CTE.strip()}, {_GRAMS_CTE.strip()}, {minhash_cand.strip()}, {_JACCARD_TAIL.strip()},
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(i.n_common / (sa.n_grams + sb.n_grams - i.n_common), 6) >= 0.5
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n(u)
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON r.node = e.v
),
lab AS (SELECT node, min(lab) AS canonical_id FROM reach GROUP BY node)
SELECT node AS doc_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size,
       node = canonical_id AS is_canonical
FROM lab
"""
    # decontaminate: the eval set is a deterministic token slice of every
    # 11th base doc; the check is a plain gram equi-join (broadcast on the
    # Spark side — same rows either way)
    out["decontaminate"] = f"""
WITH {_AUG_CTE.strip()}, {_GRAMS_CTE.strip()},
evals AS (
  SELECT doc_id + 500000 AS eval_id,
         array_to_string((string_split(text, ' '))[5:12], ' ') AS text
  FROM aug WHERE doc_id % 11 = 3 AND doc_id < 100000
),
etoks AS (SELECT eval_id, string_split(text, ' ') AS t FROM evals),
egrams AS (
  SELECT DISTINCT eval_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM etoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
hits AS (
  SELECT g.doc_id, e.eval_id, count(*) AS n_shared_grams
  FROM grams g JOIN egrams e ON e.gram = g.gram
  GROUP BY g.doc_id, e.eval_id
)
SELECT h.doc_id, h.eval_id, h.n_shared_grams,
       round(h.n_shared_grams / s.n_grams, 6) AS contam_frac
FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
"""
    # mirror of ngram_jaccard_pairs INCLUDING the default document-frequency
    # bound: pairing and n_common use only grams with df <= the bound, while
    # sizes (the Jaccard denominators) stay over the FULL gram sets — exactly
    # the Spark operator's semantics
    out["ngram_jaccard"] = f"""
WITH {_AUG_CTE.strip()}, {_GRAMS_CTE.strip()},
rare AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY gram
  ) WHERE df <= {text_op.DEFAULT_MAX_GRAM_FREQ}
),
fgrams AS (SELECT g.doc_id, g.gram FROM grams g JOIN rare r ON r.gram = g.gram),
cand AS (
  SELECT DISTINCT ga.doc_id AS doc_a, gb.doc_id AS doc_b
  FROM fgrams ga JOIN fgrams gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN fgrams ga ON ga.doc_id = c.doc_a
  JOIN fgrams gb ON gb.doc_id = c.doc_b AND ga.gram = gb.gram
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_common,
       round(i.n_common / (sa.n_grams + sb.n_grams - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_common / (sa.n_grams + sb.n_grams - i.n_common), 6) >= 0.5
"""
    out["simhash"] = f"""
WITH {_simhash_cte('documents').strip()}
SELECT doc_id, simhash FROM sh
"""
    out["simhash_near"] = f"""
WITH {_AUG_CTE.strip()}, {_simhash_cte('aug').strip()},
banded AS (
  SELECT doc_id, simhash, k AS band, (simhash >> (15 * k)) & 32767 AS key
  FROM sh, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) s
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
"""
    langs = text_op.LANG_ORDER
    score_cols = ",\n  ".join(
        "len(list_filter(string_split(lower(text), ' '), t -> list_contains(["
        + ", ".join(f"'{w}'" for w in text_op.STOPWORDS[lang])
        + f"], t))) AS score_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE WHEN " + " WHEN ".join(
        f"{best} > 0 AND score_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    pred += " ELSE 'und' END"
    out["lang_id"] = f"""
WITH scored AS (
  SELECT doc_id,
  {score_cols}
  FROM documents
)
SELECT doc_id, {pred} AS lang_pred, {best} AS score,
       score_en, score_de, score_fr, score_es
FROM scored
"""
    en = ", ".join(f"'{w}'" for w in text_op.STOPWORDS["en"])
    out["quality_score"] = f"""
WITH q AS (
  SELECT doc_id,
    len(string_split(lower(text), ' ')) AS n_tokens,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS punct,
    len(list_filter(string_split(lower(text), ' '), t -> list_contains([{en}], t))) AS stop
  FROM documents
)
SELECT doc_id, n_tokens,
  round(stop / greatest(n_tokens, 1), 6) AS stop_ratio,
  round(punct / greatest(n_chars, 1), 6) AS punct_ratio,
  round(least(n_tokens / 100.0, 1.0) * 0.4
        + (stop / greatest(n_tokens, 1)) * 0.4
        + (1.0 - punct / greatest(n_chars, 1)) * 0.2, 6) AS quality
FROM q
"""
    out["pack_sequences"] = r"""
WITH tc AS (
  SELECT least(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 256) AS tokens
  FROM documents
)
SELECT count(*)::BIGINT AS n_docs,
       true AS each_doc_once,
       sum(tokens)::BIGINT AS total_tokens,
       0::BIGINT AS over_capacity_seqs,
       true AS fill_bound_ok
FROM tc WHERE tokens > 0
"""
    out["token_counts"] = r"""
SELECT doc_id,
  len(string_split_regex(text, '\s+')) AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
FROM documents
"""
    out["fingerprint"] = r"""
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
"""
    return out


# -- ANN oracles -------------------------------------------------------------

def _duck_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}::double[], {b}::double[]) / "
        f"(sqrt(list_dot_product({a}::double[], {a}::double[])) * "
        f"sqrt(list_dot_product({b}::double[], {b}::double[])))"
    )


def _duck_band_key(v: str, band: int, bands: int, bits: int) -> str:
    """bits-bit banded-LSH key of vector expr ``v`` — the EXACT mirror of
    ann.hyperplane_bands (same md5-derived ±1 planes, same round-6-then-sign
    bit test)."""
    planes = ann_op.hyperplane_signs(bands, bits, ann_op.EMB_DIM)[band]
    terms = " + ".join(
        "(CASE WHEN round(list_dot_product({v}::DOUBLE[], [{p}]), 6) > 0 "
        "THEN {w} ELSE 0 END)".format(
            v=v, p=", ".join(str(s) for s in signs), w=1 << i
        )
        for i, signs in enumerate(planes)
    )
    return f"({terms})"


def _duck_bands_cte(src: str, id_col: str, vec: str, bands: int, bits: int) -> str:
    """UNION ALL of one key-select per band → (id, band, key) bucket table."""
    return "\n  UNION ALL\n".join(
        f"  SELECT {id_col}, {b} AS band, "
        f"{_duck_band_key(vec, b, bands, bits)} AS key FROM {src}"
        for b in range(bands)
    )


_DUCK_AUG_EMB = f"""
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_concat([{", ".join("0.0" for _ in range(ANN_MASK_DIMS))}]::FLOAT[],
                     embedding[{ANN_MASK_DIMS + 1}:]) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
)"""


def _ann_oracle_sql() -> dict[str, str]:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    out: dict[str, str] = {}
    out["ann_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id IN ({ids})),
s AS (
  SELECT q.query_id, e.vec_id,
         round({_duck_cos('e.embedding', 'q.qvec')}, 6) AS cos_sim
  FROM embeddings e, q WHERE e.vec_id != q.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM s)
SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= {ANN_K}
"""
    tb, ti = ann_op.TOPK_BANDS, ann_op.TOPK_BITS
    out["ann_lsh_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id IN ({ids})),
eb AS (
{_duck_bands_cte('embeddings', 'vec_id', 'embedding', tb, ti)}
),
qb AS (
{_duck_bands_cte('q', 'query_id', 'qvec', tb, ti)}
),
cand AS (
  SELECT DISTINCT qb.query_id, eb.vec_id
  FROM eb JOIN qb ON eb.band = qb.band AND eb.key = qb.key
  WHERE eb.vec_id != qb.query_id
),
s AS (
  SELECT c.query_id, c.vec_id,
         round({_duck_cos('e.embedding', 'q.qvec')}, 6) AS cos_sim
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM s)
SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= {ANN_K}
"""
    nb, ni = ann_op.NEAR_BANDS, ann_op.NEAR_BITS
    out["ann_near_dup"] = f"""
WITH {_DUCK_AUG_EMB.strip()},
bk AS (
{_duck_bands_cte('aug', 'vec_id', 'embedding', nb, ni)}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       round({_duck_cos('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
FROM cand c
JOIN aug ea ON ea.vec_id = c.vec_a
JOIN aug eb ON eb.vec_id = c.vec_b
WHERE round({_duck_cos('ea.embedding', 'eb.embedding')}, 6) >= {ANN_NEAR_THRESHOLD}
"""
    return out


# -- events oracles ----------------------------------------------------------

def _events_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out["events_sessionize"] = f"""
WITH l AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev_us IS NULL OR (ts_us - prev_us) >= {events_op.SESSION_GAP_SEC} * 1000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM l
),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM f
)
SELECT user_id, cast(session_id AS bigint) AS session_id, count(*) AS n_events,
       min(ts_us) // 1000000 AS t_start_sec,
       max(ts_us) // 1000000 AS t_end_sec,
       round(sum(value), 3) AS total_value
FROM s GROUP BY user_id, session_id
"""
    out["events_window"] = """
SELECT epoch_us(ts) // 3600000000::bigint AS window_id, event_type,
       count(*) AS n, round(sum(value), 3) AS total_value, round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""
    return out
