#!/usr/bin/env python3
"""Pin the cube digests the benchmark's correctness gates compare against.

    python3 perfbench/pin.py

Builds the sf0.1 cube of every solar day on the flagship grid, and on the
append workload's tile window as a grid of its own, and writes one digest
per day of each to ``perfbench/digests.json``. The window's tiles must equal
the same tiles of the full grid, and one day of the window is compared with
the NumPy oracle (``oracle.build_cube_numpy``): same tiles, same lineage,
checksums within float32 rounding. Run it again only when the synthetic
world or the cube's definition changes on purpose.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    os.environ["PYTHONPATH"] = ROOT
    import numpy as np

    import harness
    import inputs
    from workloads import DIGEST_COLS, digest_rows
    from xcube_stac_spark import oracle, synth
    from xcube_stac_spark.plans import cube as cube_plan
    from xcube_stac_spark.session import get_spark
    from xcube_stac_spark.sources.catalog import SceneCatalog

    state = os.path.join(ROOT, ".perfbench")
    sdir = inputs.world(os.path.join(state, "cache"))
    spark = get_spark("perfbench-pin", master=f"local[{len(os.sched_getaffinity(0))}]",
                      extra_conf={"spark.local.dir": os.path.join(state, "pin-local")})
    cat = SceneCatalog(spark, sdir)
    span = (inputs.DAYS[0].isoformat(), inputs.day_window(inputs.DAYS[-1])[1])

    def build(grid):
        rows = cube_plan.build_cube(cat, grid, time_range=span, bands=inputs.BANDS).select(*DIGEST_COLS).collect()
        by_day: dict[str, list] = {}
        for r in digest_rows(rows):
            by_day.setdefault(r[0].isoformat(), []).append(r)
        return by_day

    full, window = build(inputs.full_grid()), build(inputs.append_grid())
    tx0, ty0, ntx, nty = inputs.APPEND_WINDOW
    out = {"synth_version": synth.SYNTH_VERSION, "cube_build": {}, "cube_append": {}}
    for day, rows in sorted(full.items()):
        out["cube_build"][day] = {"digest": harness.cube_digest(rows), "tiles": len(rows)}
        cut = [(d, b, ty - ty0, tx - tx0, c, v, i) for d, b, ty, tx, c, v, i in rows
               if ty0 <= ty < ty0 + nty and tx0 <= tx < tx0 + ntx]
        digest = harness.cube_digest(cut)
        if digest != harness.cube_digest(window[day]):
            raise SystemExit(f"{day}: the append window differs from the same tiles of the full grid")
        out["cube_append"][day] = {"digest": digest, "partitions": len({(r[2], r[3]) for r in cut})}

    day = inputs.DAYS[3]
    ref = oracle.build_cube_numpy(sdir, inputs.append_grid(), time_range=inputs.day_window(day), bands=inputs.BANDS)
    got = {(r[1], r[2], r[3]): r for r in window[day.isoformat()]}
    want = {(b, ty, tx): k for k in ref.tiles for _, b, ty, tx in [k]}
    if set(got) != set(want):
        raise SystemExit(f"oracle tiles differ on {day}")
    for key, k in want.items():
        r = got[key]
        if r[6] != ",".join(ref.lineage[k]):
            raise SystemExit(f"oracle lineage differs at {k}")
        if not np.isclose(r[4], ref.checksum(k), rtol=1e-5):
            raise SystemExit(f"oracle checksum differs at {k}: {r[4]} vs {ref.checksum(k)}")
        if not np.isclose(r[5], float(np.isfinite(ref.tiles[k]).mean()), atol=1e-9):
            raise SystemExit(f"oracle valid fraction differs at {k}")
    out["oracle_checked"] = [day.isoformat()]
    spark.stop()
    with open(os.path.join(ROOT, "perfbench", "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(out['cube_build'])} days; oracle agrees on {day}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
