"""The two workloads and the run that drives them.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. A run starts the engine's own session
(``session.get_spark`` on ``local[nproc]``) several times to measure set-up.
It then runs one untimed, checked priming operation, and measures for the
requested seconds. A traced run (``--trace 1``) instead times one operation
untraced and one split at the layer boundaries.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from xcube_stac_spark import codecs, lineage, synth
from xcube_stac_spark.operators import spatial, tiles
from xcube_stac_spark.plans import cube as cube_plan
from xcube_stac_spark.session import get_spark
from xcube_stac_spark.sources.catalog import SceneCatalog

import harness
import inputs
import reference

SETUP_REPS = 5  # one JVM launch, then four in-process session restarts
DIGEST_COLS = ["solar_day", "band", "tile_y", "tile_x", "checksum", "valid_frac", "item_ids"]
LAYERS = ("session", "catalog", "plans", "spatial", "tiles", "codecs", "lineage")
#: layers whose work runs in Spark tasks (codecs is timed in this process)
TASK_LAYERS = tuple(layer for layer in LAYERS if layer != "codecs")
#: the span of the one operation a traced run splits into layers
TOP_SPAN = {"cube_build": "cube_build.build", "cube_append": "cube_append.cycle"}
#: span name of each query kind in the traced cube_build run
QUERY_LAYER = {
    "search": "spatial.search_scenes", "select": "plans.select_scenes_query",
    "join_small": "spatial.join_small", "join_large": "spatial.join_large",
    "dedup": "spatial.dedup_latest_version", "knn": "spatial.knn_scenes",
    "probe": "spatial.probe_scene_layout",
}
#: every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MiB",
    "catalog.scan_s": "s",
    "plans.select_scenes_s": "s", "plans.scene_images_s": "s", "plans.expected_partitions_s": "s",
    **{f"{name}_s": "s" for name in QUERY_LAYER.values()},
    "spatial.rows_scanned_per_row": "ratio", "spatial.tasks_per_query": "count",
    "tiles.assign_grid_tiles_s": "s", "tiles.decode_regrid_s": "s", "tiles.mosaic_take_first_s": "s",
    "tiles.windows": "count", "tiles.window_bytes": "B", "tiles.windows_per_tile": "ratio",
    "tiles.mosaic.shuffle_bytes": "B", "tiles.mosaic.spill_bytes": "B",
    "codecs.decode_s": "s", "codecs.decoded_mpix": "Mpx",
    "lineage.write_cube_s": "s", "lineage.resume_s": "s", "lineage.committed_partitions_s": "s",
    "lineage.read_cube_s": "s", "lineage.files_written": "count",
    "lineage.disk_bytes_per_data_byte": "ratio", "lineage.store_dirs": "count",
    **{f"{layer}.{m}": u for layer in TASK_LAYERS
       for m, u in (("tasks", "count"), ("task_run_s", "s"), ("failed_tasks", "count"))},
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
    "trace.self_time_share": "ratio",
}


class Run:
    """State of one benchmark process: session, spans, checks and timings."""

    def __init__(self, args, root: str, state: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.root = root
        self.t_ready = time.perf_counter()  # reset once the inputs are ready
        self.cache = os.path.join(state, "cache")
        self.work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
        self.tracer = harness.Tracer(run_id=f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.spark = None
        self.attempted = self.failed = 0
        self.checks: dict[str, list[bool]] = {}
        self.env: dict = {}
        self.layer_metrics: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + events})
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextlib.contextmanager
    def layer(self, name: str):
        """A span named ``name`` whose Spark jobs carry job group ``name``."""
        sc = self.spark.sparkContext
        with self.tracer.span(name) as s:
            sc.setJobGroup(name, name)
            try:
                yield s
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def materialize(self, name: str, df):
        """Write ``df`` to parquet in the work dir and read it back, so the
        next layer starts from stored rows."""
        path = os.path.join(self.work, "boundary", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    # -- bookkeeping --------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.setdefault(name, []).append(bool(ok))
        if not ok:
            print(f"check failed: {name} {detail}", flush=True)
        return bool(ok)

    def attempt(self, fn, *args):
        """Run one operation; an exception or a failed check inside it
        counts it as failed. Returns fn's result, or None on an exception."""
        self.attempted += 1
        bad_before = sum(not ok for v in self.checks.values() for ok in v)
        try:
            out = fn(*args)
        except Exception:  # the run reports the failure and carries on
            traceback.print_exc()
            self.failed += 1
            return None
        if sum(not ok for v in self.checks.values() for ok in v) > bad_before:
            self.failed += 1
        return out


# ---------------------------------------------------------------------------
# shared cube pieces
# ---------------------------------------------------------------------------


def split_build(run: Run, cat, grid, time_range):
    """build_cube, one layer call at a time, each output stored before the
    next layer reads it. Returns the stored cube tiles."""
    m = run.materialize
    with run.layer("plans.select_scenes"):
        scenes = m("scenes", cube_plan.select_scenes(cat, grid.bbox(), time_range))
    with run.layer("plans.scene_images"):
        imgs = m("images", cube_plan.scene_images(cat, scenes, inputs.BANDS))
    with run.layer("tiles.assign_grid_tiles"):
        assigned = m("assigned", tiles.assign_grid_tiles(imgs, grid))
    with run.layer("tiles.decode_regrid"):
        regridded = m("regridded", tiles.decode_regrid(assigned, grid, repartition=True))
    with run.layer("tiles.mosaic_take_first"):
        return m("cube", tiles.mosaic_take_first(regridded))


def tile_layer_counts(run: Run) -> None:
    """Window counts of the last split_build, read outside every span."""
    boundary = os.path.join(run.work, "boundary")
    regridded = run.spark.read.parquet(os.path.join(boundary, "regridded"))
    row = regridded.agg(F.count("*"), F.sum(F.octet_length("dn") + F.octet_length("mask"))).first()
    n_tiles = run.spark.read.parquet(os.path.join(boundary, "cube")).count()
    lm = run.layer_metrics
    lm["tiles.windows"] = float(row[0])
    lm["tiles.window_bytes"] = float(row[1] or 0)
    lm["tiles.windows_per_tile"] = row[0] / n_tiles if n_tiles else 0.0


def time_codecs(run: Run) -> None:
    """codecs.decode over the payloads the last split_build selected,
    in this process."""
    table = pq.read_table(os.path.join(run.work, "boundary", "images"),
                          columns=["bytes", "fmt", "w", "h"])
    rows = table.to_pylist()
    with run.tracer.span("codecs.decode"):
        mpix = sum(codecs.decode(r["bytes"], r["fmt"], r["w"], r["h"]).size for r in rows) / 1e6
    run.layer_metrics["codecs.decoded_mpix"] = mpix


def build_side_layers(run: Run, cat, grid, window, rows: list[tuple], tag: str) -> None:
    """The layers a traced build leaves outside its own span:
    expected_partitions of the same call, window counts, and codecs."""
    with run.layer("plans.expected_partitions"):
        keys = cube_plan.expected_partitions(cat, grid, time_range=window, bands=inputs.BANDS).collect()
    # metadata may expect a tile no scene pixel reaches, never the reverse
    run.check(f"{tag}.expected_partitions",
              {(r["tile_y"], r["tile_x"]) for r in keys} >= {(r[2], r[3]) for r in rows})
    tile_layer_counts(run)
    time_codecs(run)


def store_metrics(run: Run, store: str) -> None:
    """Files, directories and disk bytes per plane byte of a cube store."""
    files = dirs = disk = 0
    for d, subdirs, names in os.walk(store):
        if lineage.COMMITLOG in d.split(os.sep):
            continue
        dirs += len(subdirs)
        files += sum(n.endswith(".parquet") for n in names)
        disk += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    data_bytes = sum(r["bytes"] for r in lineage.metrics(store))
    lm = run.layer_metrics
    lm["lineage.files_written"] = float(files)
    lm["lineage.store_dirs"] = float(dirs)
    lm["lineage.disk_bytes_per_data_byte"] = disk / data_bytes if data_bytes else 0.0


def digest_rows(rows) -> list[tuple]:
    return [tuple(r[c] for c in DIGEST_COLS) for r in rows]


def load_pins(root: str) -> dict:
    with open(os.path.join(root, "perfbench", "digests.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class CubeBuild:
    """The flagship build_cube over the sf0.1 world for one seeded solar
    day, into a noop sink."""

    name, min_ops, max_ops = "cube_build", 3, 10**6

    def __init__(self, run: Run):
        self.sdir = inputs.world(run.cache)
        self.grid = inputs.full_grid()
        self.day = inputs.build_day(run.seed)
        self.window = inputs.day_window(self.day)
        self.pin = load_pins(run.root)["cube_build"][self.day.isoformat()]
        self.queries = SceneQueries(run) if run.trace else None

    def structures(self, run: Run) -> None:
        self.cat = SceneCatalog(run.spark, self.sdir)

    def warmup(self, run: Run) -> None:
        cube_plan.select_scenes(self.cat, self.grid.bbox(), self.window).count()

    def cube(self):
        return cube_plan.build_cube(self.cat, self.grid, time_range=self.window, bands=inputs.BANDS)

    def prime(self, run: Run) -> None:
        rows = digest_rows(self.cube().select(*DIGEST_COLS).collect())
        run.check("cube_build.digest", harness.cube_digest(rows) == self.pin["digest"],
                  f"day {self.day}: {len(rows)} tiles")

    def op(self, run: Run, i: int) -> float:
        self.cube().write.format("noop").mode("overwrite").save()
        return float(self.pin["tiles"])

    def traced(self, run: Run) -> tuple[float, float]:
        self.op(run, 0)  # the untraced and the traced build both run warm
        t0 = time.perf_counter()
        self.op(run, 0)
        untraced = time.perf_counter() - t0
        with run.tracer.span("cube_build.build") as s:
            cube = split_build(run, self.cat, self.grid, self.window)
        rows = digest_rows(cube.select(*DIGEST_COLS).collect())
        run.check("cube_build.traced_digest", harness.cube_digest(rows) == self.pin["digest"])
        build_side_layers(run, self.cat, self.grid, self.window, rows, "cube_build")
        self.queries.traced(run)
        self.trace_lineage(run, cube)
        return s.duration, untraced

    def trace_lineage(self, run: Run, cube) -> None:
        """The lineage layer on the traced build: append it to a fresh store,
        resume, read the store back, and list its commits."""
        store = os.path.join(run.work, "trace-store")
        keys = cube.select(*lineage.PART_COLS).distinct()
        with run.layer("lineage.write_cube"):
            lineage.write_cube(cube, store, resume=True, expected_partitions=keys)
        with run.layer("lineage.resume"):
            m2 = lineage.write_cube(cube, store, resume=True, expected_partitions=keys)
        with run.layer("lineage.read_cube"):
            got = digest_rows(lineage.read_cube(run.spark, store).select(*DIGEST_COLS).collect())
        with run.layer("lineage.committed_partitions"):
            lineage.committed_partitions(run.spark, store).collect()
        run.check("cube_build.traced_store",
                  harness.cube_digest(got) == self.pin["digest"] and m2["written_partitions"] == 0)
        store_metrics(run, store)

    def verify(self, run: Run) -> None:
        """Nothing beyond the primed digest: the timed builds go to noop."""

    def summary(self, lat: list[float]) -> str:
        return (f"tiles_per_s={self.pin['tiles'] / min(lat):.1f} 1/s best, "
                f"{self.pin['tiles'] / harness.median(lat):.1f} 1/s median "
                f"({len(lat)} builds of {self.pin['tiles']} tiles, day {self.day})")


class CubeAppend:
    """Per-day appends of stored day cubes to an empty commit-logged store
    through ``lineage.write_cube(resume=True)``, each followed by a resume
    of the same day, which must write nothing, and a seeded read-back of a
    committed region with its planes decoded."""

    name, min_ops = "cube_append", 4

    def __init__(self, run: Run):
        self.cubes = append_cubes(run)
        self.grid = inputs.append_grid()
        self.stream = inputs.append_stream(run.seed)
        self.max_ops = len(self.stream) - 1
        self.pins = load_pins(run.root)["cube_append"]
        self.store = os.path.join(run.work, "store")
        self.appended: list = []
        self.parts = {"append": [], "resume": [], "read": []}
        self.queries = SceneQueries(run) if run.trace else None

    def structures(self, run: Run) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        lineage.write_meta(self.store, {"grid": self.grid.to_dict(), "bands": inputs.BANDS})
        self.appended = []

    def warmup(self, run: Run) -> None:
        self.day_cube(run, self.stream[0]["day"]).count()

    def day_cube(self, run: Run, day):
        return (run.spark.read.option("basePath", self.cubes)
                .parquet(os.path.join(self.cubes, f"solar_day={day.isoformat()}"))
                .withColumn("solar_day", F.to_date(F.col("solar_day").cast("string"))))

    def append(self, run: Run, day) -> dict:
        cube = self.day_cube(run, day)
        keys = cube.select(*lineage.PART_COLS).distinct()
        return lineage.write_cube(cube, self.store, resume=True, expected_partitions=keys)

    def read(self, run: Run, e: dict) -> int:
        x0, y0, x1, y1 = e["read_tiles"]
        df = lineage.read_cube(run.spark, self.store).where(
            (F.col("solar_day") == F.lit(e["read_day"].isoformat()).cast("date"))
            & (F.col("band") == e["read_band"])
            & F.col("tile_x").between(x0, x1 - 1) & F.col("tile_y").between(y0, y1 - 1)
        )
        rows = df.select("data", "checksum").collect()
        t = self.grid.tile_w
        sums = [float(np.nansum(tiles.tile_to_array(r["data"], t, t).astype(np.float64))) for r in rows]
        run.check("cube_append.read_planes",
                  len(rows) == (x1 - x0) * (y1 - y0) and all(s == r["checksum"] for s, r in zip(sums, rows)),
                  f"{len(rows)} rows for region {e['read_tiles']} of {e['read_day']}")
        return len(rows)

    def check_writes(self, run: Run, day, m: dict, m2: dict) -> None:
        want = self.pins[day.isoformat()]["partitions"]
        run.check("cube_append.partitions", m["written_partitions"] == want,
                  f"{day}: wrote {m['written_partitions']}, expected {want}")
        run.check("cube_append.resume_noop", m2["written_partitions"] == 0, f"{day}: {m2}")

    def cycle(self, run: Run, e: dict) -> tuple[float, float, float]:
        day = e["day"]
        t0 = time.perf_counter()
        m = self.append(run, day)
        t1 = time.perf_counter()
        m2 = self.append(run, day)
        t2 = time.perf_counter()
        self.appended.append(day)
        self.read(run, e)
        t3 = time.perf_counter()
        self.check_writes(run, day, m, m2)
        return t1 - t0, t2 - t1, t3 - t2

    def prime(self, run: Run) -> None:
        self.cycle(run, self.stream[0])

    def op(self, run: Run, i: int) -> float:
        e = self.stream[i + 1]
        for k, v in zip(("append", "resume", "read"), self.cycle(run, e)):
            self.parts[k].append(v)
        return float(len(inputs.BANDS) * self.pins[e["day"].isoformat()]["partitions"])

    def verify(self, run: Run) -> None:
        """One more operation: the whole store, day by day, equals the
        pinned build."""
        run.attempt(self._verify_store, run)

    def _verify_store(self, run: Run) -> None:
        rows = lineage.read_cube(run.spark, self.store).select(*DIGEST_COLS).collect()
        by_day: dict[str, list] = {}
        for r in digest_rows(rows):
            by_day.setdefault(r[0].isoformat(), []).append(r)
        want = {d.isoformat() for d in self.appended}
        ok = set(by_day) == want and all(
            harness.cube_digest(by_day[d]) == self.pins[d]["digest"] for d in want)
        run.check("cube_append.store_digest", ok, f"days {sorted(by_day)} vs {sorted(want)}")

    def traced(self, run: Run) -> tuple[float, float]:
        self.op(run, 0)  # the untraced and the traced cycle both run warm
        t0 = time.perf_counter()
        self.op(run, 1)
        untraced = time.perf_counter() - t0
        e = self.stream[3]
        with run.tracer.span("cube_append.cycle") as s:
            with run.layer("lineage.write_cube"):
                m = self.append(run, e["day"])
            with run.layer("lineage.resume"):
                m2 = self.append(run, e["day"])
            self.appended.append(e["day"])
            with run.layer("lineage.read_cube"):
                self.read(run, e)
        self.check_writes(run, e["day"], m, m2)
        with run.layer("lineage.committed_partitions"):
            lineage.committed_partitions(run.spark, self.store).collect()
        store_metrics(run, self.store)
        # the build and query layers, so every layer reports a measured value
        cat = SceneCatalog(run.spark, inputs.world(run.cache))
        window = inputs.day_window(e["day"])
        rows = digest_rows(split_build(run, cat, self.grid, window).select(*DIGEST_COLS).collect())
        run.check("cube_append.traced_build",
                  harness.cube_digest(rows) == self.pins[e["day"].isoformat()]["digest"])
        build_side_layers(run, cat, self.grid, window, rows, "cube_append")
        self.queries.traced(run)
        return s.duration, untraced

    def summary(self, lat: list[float]) -> str:
        p = {k: harness.median(v) if v else float("nan") for k, v in self.parts.items()}
        return (f"append_p50_s={p['append']:.3f} s resume_p50_s={p['resume']:.3f} s "
                f"read_p50_s={p['read']:.3f} s, best cycle {min(lat):.3f} s ({len(lat)} day cycles)")


def append_cubes(run: Run) -> str:
    """Directory of the append workload's input: build_cube of every solar
    day on the append grid, one ``solar_day=`` directory per day. Built once
    per synth version, in a session of its own, before set-up is timed."""
    d = os.path.join(run.cache, f"append-cubes-v{synth.SYNTH_VERSION}-w{'.'.join(map(str, inputs.APPEND_WINDOW))}")
    if os.path.isdir(d):
        return d
    run.start_session()
    cat = SceneCatalog(run.spark, inputs.world(run.cache))
    span = (inputs.DAYS[0].isoformat(), inputs.day_window(inputs.DAYS[-1])[1])
    tmp = f"{d}.tmp{os.getpid()}"
    (cube_plan.build_cube(cat, inputs.append_grid(), time_range=span, bands=inputs.BANDS)
     .repartition("solar_day").sortWithinPartitions("tile_y", "tile_x", "band")
     .write.mode("overwrite").partitionBy("solar_day").parquet(tmp))
    os.rename(tmp, d)
    run.stop_session()
    return d


class SceneQueries:
    """One round of client queries, one of each kind in
    ``inputs.QUERY_KINDS``, over a seeded metadata-only catalog of about
    4x10^4 scenes. Each query collects its result rows, which must equal
    the NumPy reference. The traced cube_build run uses it to measure the
    catalog and spatial layers."""

    def __init__(self, run: Run):
        self.cdir = inputs.query_catalog(run.cache, run.seed)
        self.path = os.path.join(self.cdir, "scenes.parquet")
        table = pq.read_table(self.path, columns=["bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"])
        ok = np.abs(table["bbox_xmax"].to_numpy() - table["bbox_xmin"].to_numpy()) < 20.0
        extent = (float(table["bbox_xmin"].to_numpy()[ok].min()), float(table["bbox_ymin"].to_numpy().min()),
                  float(table["bbox_xmax"].to_numpy().max()), float(table["bbox_ymax"].to_numpy().max()))
        self.round = inputs.query_stream(run.seed, extent, len(inputs.QUERY_KINDS))
        self.layout = os.path.join(run.work, "layout")
        self.n_result_rows = 0

    def query(self, run: Run, cat, q: dict) -> list[str]:
        kind, scenes = q["kind"], cat.scenes()
        if kind == "search":
            df = spatial.search_scenes(scenes, bbox=q["bbox"], time_range=q["time_range"],
                                       collections=q["collections"], query=q["query"])
        elif kind == "select":
            df = cube_plan.select_scenes(cat, q["bbox"], q["time_range"])
        elif kind in ("join_small", "join_large"):
            df = spatial.spatial_join_region(scenes, q["bbox"])
        elif kind == "dedup":
            df = spatial.dedup_latest_version(spatial.search_scenes(scenes, time_range=q["time_range"]))
        elif kind == "knn":
            rows = spatial.knn_scenes(scenes, q["point"][0], q["point"][1], k=q["k"]).collect()
            return [r["tile_id"] for r in sorted(rows, key=lambda r: r["knn_rank"])]
        else:
            df = spatial.probe_scene_layout(run.spark, self.layout, q["bbox"], q["time_range"])
        return sorted(r[0] for r in df.select("item_id").collect())

    def traced(self, run: Run) -> None:
        """Write the scene layout, run the round once warm, then once with
        each query in its own layer span, and scan the catalog."""
        cat = SceneCatalog(run.spark, self.cdir)
        spatial.write_scene_layout(cat.scenes(), self.layout)
        for q in self.round:
            self.query(run, cat, q)
        ref = reference.Catalog.load(self.path)
        for q in self.round:
            with run.layer(QUERY_LAYER[q["kind"]]):
                got = self.query(run, cat, q)
            self.n_result_rows += len(got)
            run.attempted += 1
            if not run.check(f"scene_queries.{q['kind']}", got == reference.answer(ref, q), str(q)):
                run.failed += 1
        with run.layer("catalog.scan"):
            cat.scenes().write.format("noop").mode("overwrite").save()


WORKLOADS = {w.name: w for w in (CubeBuild, CubeAppend)}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def setup(run: Run, wl) -> list[float]:
    """SETUP_REPS set-ups, each a fresh session plus the workload's at-rest
    structures and one warm-up operation. The first is timed from the
    moment the inputs were ready, so it includes starting the JVM."""
    times = []
    for i in range(SETUP_REPS):
        t0 = run.t_ready if i == 0 else time.perf_counter()
        with run.tracer.span("session.start") as s:
            run.start_session()
        if i == 0:
            run.layer_metrics["session.start_s"] = s.end - t0
        with run.layer("session.setup"):
            wl.structures(run)
            wl.warmup(run)
        times.append(time.perf_counter() - t0)
    return times


def timed(run: Run, wl, deadline: float) -> tuple[list[float], float, float]:
    """Operations until ``run.seconds`` have passed and ``wl.min_ops`` are
    done (or the run's hard deadline). Returns latencies, units done and
    wall seconds."""
    lat, units = [], 0.0
    t_start = time.perf_counter()
    i = 0
    while time.perf_counter() < deadline and i < wl.max_ops:
        elapsed = time.perf_counter() - t_start
        if elapsed >= run.seconds and len(lat) >= wl.min_ops:
            break
        t0 = time.perf_counter()
        done = run.attempt(wl.op, run, i)
        lat.append(time.perf_counter() - t0)
        units += done or 0.0
        i += 1
    return lat, units, time.perf_counter() - t_start


def collect_layer_metrics(run: Run, wl, traced_wall: float, untraced_wall: float) -> None:
    lm = run.layer_metrics
    for name, self_s in run.tracer.self_times().items():
        if f"{name}_s" in lm and name != "session.start":
            lm[f"{name}_s"] = self_s
    lm["trace.wall_s"] = traced_wall
    lm["trace.untraced_wall_s"] = untraced_wall
    lm["trace.overhead_s"] = traced_wall - untraced_wall
    top = next((s for s in run.tracer.spans if s.name == TOP_SPAN[wl.name]), None)
    if top is not None and top.duration:  # absent when the traced op failed
        layered = sum(run.tracer.self_time(s) for s in run.tracer.spans
                      if s.start >= top.start and s.end <= top.end and s is not top
                      and s.name.split(".")[0] in LAYERS)
        lm["trace.self_time_share"] = layered / top.duration
    jvm_pid = run.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    lm["session.peak_rss_mb"] = harness.peak_rss_mb(jvm_pid) + harness.peak_rss_mb()
    run.stop_session()
    groups = harness.parse_event_logs(os.path.join(run.work, "events"))
    for group, acc in groups.items():
        layer = group.split(".")[0]
        if layer not in TASK_LAYERS:
            continue
        for key in ("tasks", "task_run_s", "failed_tasks"):
            lm[f"{layer}.{key}"] += acc[key]
    mosaic = groups.get("tiles.mosaic_take_first", {})
    lm["tiles.mosaic.shuffle_bytes"] = float(mosaic.get("shuffle_write_bytes", 0))
    lm["tiles.mosaic.spill_bytes"] = float(mosaic.get("spill_bytes", 0))
    spatial_groups = [g for g in groups if g.startswith("spatial.")]
    if spatial_groups:
        scanned = sum(groups[g]["records_read"] for g in spatial_groups)
        lm["spatial.rows_scanned_per_row"] = scanned / max(1, wl.queries.n_result_rows)
        lm["spatial.tasks_per_query"] = sum(groups[g]["tasks"] for g in spatial_groups) / len(spatial_groups)


def environment(run: Run, steal: float) -> dict:
    import platform

    import pyarrow
    import pyspark

    commit = "unknown"  # a checkout without git metadata
    if os.path.exists(os.path.join(run.root, ".git")):
        out = subprocess.run(["git", "-C", run.root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        commit = out.stdout.strip() or commit
    conf = run.spark.conf
    return {
        "nproc": len(os.sched_getaffinity(0)), "cgroup_memory_max": harness.cgroup_memory_limit(),
        "cpu_steal_pct": round(steal, 2), "git_commit": commit, "seed": run.seed,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": np.__version__,
        "master": run.spark.sparkContext.master,
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": conf.get("spark.driver.memory", "default"),
        "spark.local.dir": conf.get("spark.local.dir", "default"),
    }


def shutdown() -> None:
    """Stop the Spark context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def execute(run: Run, wl, results_dir: str) -> dict:
    """Run workload ``wl``; returns the object the benchmark prints."""
    deadline = time.perf_counter() + 150.0
    workload = wl.name
    setups = setup(run, wl)
    run.attempt(wl.prime, run)
    ticks = harness.cpu_ticks()
    if run.trace:
        traced_wall, untraced_wall = run.attempt(wl.traced, run) or (0.0, 0.0)
    else:
        lat, units, wall = timed(run, wl, deadline)
    steal = harness.steal_pct(ticks, harness.cpu_ticks())
    wl.verify(run)
    run.env = environment(run, steal)
    if run.trace:
        collect_layer_metrics(run, wl, traced_wall, untraced_wall)
        run.tracer.dump(os.path.join(results_dir, f"spans-{workload}-s{run.seed}.json"))
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in run.layer_metrics.items()}
        extra: dict = {}
    else:
        run.stop_session()
        # the first set-up also launches the JVM; the in-process restarts
        # after it are the steadier measure. The fastest operation is the
        # least disturbed by CPU steal from the shared host.
        metrics = {
            "setup_s": {"value": harness.median(setups[1:]), "unit": "s"},
            "op_best_s": {"value": min(lat), "unit": "s"},
        }
        extra = {"latencies_s": lat, "setups_s": setups, "timed_wall_s": wall,
                 "units_per_s": units / wall, "parts_s": getattr(wl, "parts", {})}
        print(f"{workload}: {wl.summary(lat)}", flush=True)
    verdicts = {k: all(v) for k, v in run.checks.items()}
    print("correctness: " + json.dumps(verdicts, sort_keys=True), flush=True)
    print("environment: " + json.dumps(run.env, sort_keys=True), flush=True)
    correct = bool(verdicts) and all(verdicts.values()) and run.failed == 0
    result = {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
    with open(os.path.join(results_dir, f"{workload}-s{run.seed}-t{int(run.trace)}.json"), "w") as f:
        json.dump({**result, "env": run.env, "checks": verdicts, **extra}, f, indent=1, default=str)
    return result
