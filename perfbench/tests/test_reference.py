"""The scene_queries reference filters, on hand-made scenes with known
answers, and the seeded inputs they are applied to (no Spark)."""

import datetime as dt

import numpy as np
import pyarrow as pa

import inputs
import reference

UTC = dt.timezone.utc


def _t(day, hour=10, minute=30):
    return dt.datetime(2025, 6, day, hour, minute, tzinfo=UTC)


def _catalog(rows):
    ts = pa.timestamp("us", tz="UTC")
    cols = list(zip(*rows))
    names = ["item_id", "tile_id", "collection", "orbit_state", "proc_version",
             "datetime", "start_datetime", "end_datetime",
             "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"]
    types = [pa.string()] * 5 + [ts] * 3 + [pa.float64()] * 4
    return reference.Catalog(pa.table({n: pa.array(c, t) for n, c, t in zip(names, cols, types)}))


# item, tile, collection, orbit, version, datetime, start, end, bbox
ROWS = [
    ("a_old", "T1", "syn-l2a", "descending", "05.00", _t(4), None, None, 10.0, 48.0, 11.0, 49.0),
    ("a_new", "T1", "syn-l2a", "descending", "05.11", _t(4, 10, 40), None, None, 10.0, 48.0, 11.0, 49.0),
    ("a_2nd", "T1", "syn-l2a", "descending", "05.00", _t(4, 11), None, None, 10.0, 48.0, 11.0, 49.0),
    ("b_iv", "T2", "syn-l2a", "ascending", "05.00", None, _t(5, 10, 25), _t(5, 10, 35), 12.0, 48.0, 13.0, 49.0),
    ("c_l1c", "T3", "syn-l1c", "ascending", "05.00", _t(5), None, None, 30.0, 48.0, 31.0, 49.0),
    # 22:30 UTC at lon 31.5 (+2 h solar offset) falls on the next solar day
    ("d_late", "T3", "syn-l2a", "ascending", "05.00", _t(5, 22, 30), None, None, 30.0, 48.0, 31.0, 49.0),
    ("d_next", "T3", "syn-l2a", "ascending", "05.11", _t(6, 9), None, None, 30.0, 48.0, 31.0, 49.0),
    ("x_bug", "T1", "syn-l2a", "descending", "05.00", _t(4), None, None, -15.0, 48.0, 11.0, 49.0),
]


def test_search_applies_bbox_time_collection_query_and_antimeridian_guard():
    c = _catalog(ROWS)
    q = {"kind": "search", "bbox": (10.5, 48.5, 12.5, 48.6), "time_range": ("2025-06-04", "2025-06-06"),
         "collections": ["syn-l2a"], "query": {"orbit_state": ["descending", "ascending"]}}
    assert reference.answer(c, q) == ["a_2nd", "a_new", "a_old", "b_iv"]
    q["query"] = {"orbit_state": ["ascending"]}
    assert reference.answer(c, q) == ["b_iv"]
    q = {"kind": "probe", "bbox": (29.0, 47.0, 32.0, 50.0), "time_range": ("2025-06-05", "2025-06-06")}
    assert reference.answer(c, q) == ["c_l1c", "d_late"]  # the window ends at 06-06 00:00


def test_interval_items_overlap_the_time_window():
    c = _catalog(ROWS)
    q = {"kind": "search", "bbox": (11.5, 47.0, 13.5, 50.0), "time_range": ("2025-06-05", "2025-06-05")}
    assert reference.answer(c, q) == []  # a zero-length window at midnight
    q["time_range"] = ("2025-06-01", "2025-06-05")
    assert reference.answer(c, q) == []
    q["time_range"] = ("2025-06-05", "2025-06-06")
    assert reference.answer(c, q) == ["b_iv"]


def test_dedup_keeps_latest_version_per_solar_day_and_tile():
    c = _catalog(ROWS)
    q = {"kind": "dedup", "time_range": ("2025-06-01", "2025-06-30")}
    # T1 day 4: 05.11 beats both 05.00 scenes; T3: d_late is solar day 6,
    # where d_next's newer version wins; c_l1c stays alone on day 5
    assert reference.answer(c, q) == ["a_new", "b_iv", "c_l1c", "d_next"]
    assert list(reference.solar_day(c)[[5, 6]]) == [(dt.date(2025, 6, 6) - dt.date(1970, 1, 1)).days] * 2


def test_region_join_is_envelope_overlap_without_search_guards():
    c = _catalog(ROWS)
    q = {"kind": "join_small", "bbox": (-14.0, 48.2, -13.0, 48.4)}
    assert reference.answer(c, q) == ["x_bug"]  # the join keeps antimeridian-bug rows
    q = {"kind": "join_large", "bbox": (10.9, 47.0, 30.1, 50.0)}
    assert reference.answer(c, q) == sorted(r[0] for r in ROWS)


def test_knn_ranks_tile_envelope_centers_with_id_ties():
    c = _catalog(ROWS[:7])
    assert reference.knn_tiles(c, 12.5, 48.5, 2) == ["T2", "T1"]
    # T1 and T2 centers are equidistant from 11.5: the id breaks the tie
    assert reference.knn_tiles(c, 11.5, 48.5, 3) == ["T1", "T2", "T3"]
    # the antimeridian-bug row widens T1's envelope and moves its center
    assert reference.knn_tiles(_catalog(ROWS), -2.0, 48.5, 1) == ["T1"]


def test_catalog_is_seeded_and_carries_the_edge_cases():
    a, b = inputs._catalog_table(5), inputs._catalog_table(5)
    assert a.equals(b)
    assert not a.equals(inputs._catalog_table(6))
    c = reference.Catalog(a)
    assert len(set(c.item_id)) == len(c.item_id)
    assert (~c.datetime_valid).any()  # interval-only items
    assert (np.abs(c.xmax - c.xmin) >= 20).any()  # antimeridian-bug bboxes
    assert set(c.proc_version) == {"05.00", "05.11"}
    assert set(c.collection) == {"syn-l2a", "syn-l1c"}
    assert (reference.solar_day(c) != c.datetime // 86_400_000_000)[c.datetime_valid].any()


def test_streams_are_seeded():
    ext = (0.0, 45.0, 30.0, 50.0)
    assert inputs.query_stream(3, ext, 30) == inputs.query_stream(3, ext, 30)
    assert inputs.query_stream(3, ext, 30) != inputs.query_stream(4, ext, 30)
    kinds = [q["kind"] for q in inputs.query_stream(3, ext, 14)]
    assert sorted(kinds[:7]) == sorted(inputs.QUERY_KINDS) == sorted(kinds[7:])
    s = inputs.append_stream(9)
    assert sorted(e["day"] for e in s) == inputs.DAYS
    assert all(e["read_day"] in [x["day"] for x in s[: i + 1]] for i, e in enumerate(s))
