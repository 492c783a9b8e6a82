"""The benchmark's own measurement rules (no Spark). Run with
``python -m pytest perfbench/tests -q``."""

import json

import pytest

import harness


def _tracer(times):
    it = iter(times)
    return harness.Tracer("t", clock=lambda: next(it))


def test_self_time_counts_overlapping_children_once():
    # parent [0, 10]; children [1, 4] and [3, 6] overlap, [8, 9] is apart
    tr = _tracer([0, 1, 4, 3, 6, 8, 9, 10])
    with tr.span("parent") as p:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
        with tr.span("c"):
            pass
    # b's recorded start (3) precedes a's end (4): the union is [1, 6] + [8, 9]
    assert tr.self_time(p) == pytest.approx(10 - 6)
    assert tr.self_times()["a"] == pytest.approx(3)


def test_self_time_clips_children_to_parent_and_ignores_grandchildren():
    tr = harness.Tracer("t")
    p = harness.Span("p", 0.0, 10.0, None, "t", id=0)
    tr.spans = [
        p,
        harness.Span("kid", 8.0, 12.0, 0, "t", id=1),   # runs past the parent
        harness.Span("grand", 8.5, 9.0, 1, "t", id=2),  # not a direct child
    ]
    assert tr.self_time(p) == pytest.approx(8.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(3.5)


def test_spans_dump_name_parent_and_run_id(tmp_path):
    tr = _tracer([0.0, 1.0, 2.0, 5.0])
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    out = tmp_path / "spans.json"
    tr.dump(str(out))
    rows = json.loads(out.read_text())
    assert [(r["name"], r["parent"], r["run_id"]) for r in rows] == [("outer", None, "t"), ("inner", 0, "t")]
    assert rows[0]["self_s"] == pytest.approx(4.0)


ROWS = [
    ("2025-06-04", "B02", 3, 7, 1234.5678901234, 0.5, "S2A_x,S2B_y"),
    ("2025-06-04", "B03", 3, 7, -0.25, 1.0, "S2A_x"),
    ("2025-06-05", "B02", 0, 0, 9.0, 0.125, "S2A_z"),
]


def test_digest_is_pinned_and_order_independent():
    d = harness.cube_digest(ROWS)
    assert d == harness.cube_digest(list(reversed(ROWS)))
    # a fixed value: no dependence on hash seeds, dict order or platform
    assert d == "e969b5dd223e55bfee798cb45ab0dac8dfbff11231f0550cdf2601cf55c7ae09"


def test_digest_ignores_float_noise_but_not_content():
    d = harness.cube_digest(ROWS)
    noisy = [ROWS[0][:4] + (ROWS[0][4] * (1 + 1e-13),) + ROWS[0][5:]] + ROWS[1:]
    assert harness.cube_digest(noisy) == d
    changed = [ROWS[0][:4] + (ROWS[0][4] + 0.01,) + ROWS[0][5:]] + ROWS[1:]
    assert harness.cube_digest(changed) != d
    relabeled = [ROWS[0][:6] + ("S2B_y,S2A_x",)] + ROWS[1:]
    assert harness.cube_digest(relabeled) != d
    assert harness.cube_digest(ROWS[:2]) != d


def test_event_logs_sum_task_metrics_per_job_group(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()

    def task(stage, run_ms, reason="Success", shuffled=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffled},
                                 "Input Metrics": {"Records Read": 5},
                                 "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}}

    first = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "tiles.decode_regrid"}},
        task(0, 1500, shuffled=100),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
    ]
    second = [task(1, 500, reason="ExceptionFailure"), task(2, 9999)]
    (app / "events_1_local-1").write_text("\n".join(map(json.dumps, first)) + "\n")
    (app / "events_2_local-1").write_text("\n".join(map(json.dumps, second)) + "\n")
    got = harness.parse_event_logs(str(tmp_path))
    assert set(got) == {"tiles.decode_regrid"}
    g = got["tiles.decode_regrid"]
    assert g["tasks"] == 2 and g["failed_tasks"] == 1
    assert g["task_run_s"] == pytest.approx(2.0)
    assert g["records_read"] == 10 and g["shuffle_write_bytes"] == 100 and g["spill_bytes"] == 6


def test_steal_pct():
    a = [100, 0, 100, 800, 0, 0, 0, 0]
    b = [150, 0, 150, 880, 0, 0, 0, 20]
    assert harness.steal_pct(a, b) == pytest.approx(100 * 20 / 200)
