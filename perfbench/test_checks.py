"""Tests of the benchmark's output checker and event-log reader (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import checks
import eventlog
import inputs

TRIPLES = {("Alpha", "USES", "Beta"), ("Beta", "PART_OF", "Gamma"), ("Gamma", "USES", "Alpha")}


def test_triple_digest_accepts_same_set_in_any_order():
    assert checks.set_digest(sorted(TRIPLES)) == checks.set_digest(sorted(TRIPLES, reverse=True))


def test_triple_digest_rejects_perturbed_sets():
    want = checks.set_digest(TRIPLES)
    renamed = (TRIPLES - {("Alpha", "USES", "Beta")}) | {("Alpha", "USES", "Beta2")}
    dropped = TRIPLES - {("Alpha", "USES", "Beta")}
    added = TRIPLES | {("Beta", "USES", "Alpha")}
    swapped = (TRIPLES - {("Alpha", "USES", "Beta")}) | {("Beta", "USES", "Alpha")}
    for bad in (renamed, dropped, added, swapped):
        assert checks.set_digest(bad) != want
    errors = checks.compare_digests({"triples": checks.set_digest(renamed)}, {"triples": want}, "x")
    assert errors and "triples" in errors[0]


def test_null_is_not_empty_string():
    assert checks.row_hash(("a", None)) != checks.row_hash(("a", ""))


EDGES = [("a", "b"), ("b", "c"), ("d", "e"), ("e", "e")]  # two components, one loop


def _valid_membership():
    return [
        ("a", checks.stable_community_id("a")),
        ("b", checks.stable_community_id("a")),
        ("c", checks.stable_community_id("c")),
        ("d", checks.stable_community_id("d")),
        ("e", checks.stable_community_id("d")),
    ]


def test_valid_community_assignment_passes():
    assert checks.community_errors(_valid_membership(), EDGES) == []


def test_community_checker_rejects_invalid_assignments():
    good = _valid_membership()
    node_twice = good + [("a", checks.stable_community_id("c"))]
    node_missing = good[:-1]
    outsider = good + [("z", checks.stable_community_id("z"))]
    cross = [(n, checks.stable_community_id("a")) for n, _ in good]  # spans both components
    wrong_id = [("a", 7)] + good[1:]
    for bad, needle in (
        (node_twice, "more than one"),
        (node_missing, "no community"),
        (outsider, "outside the graph"),
        (cross, "spans 2 components"),
        (wrong_id, "stable id"),
    ):
        errors = checks.community_errors(bad, EDGES)
        assert any(needle in e for e in errors), (needle, errors)


def test_mention_oracle_gates_and_case_variants():
    rows = [
        ("entity", "c0", "d", "Toravin Kelsu", "ORG", None, "", 0.6, None, ["c0"]),
        ("entity", "c0", "d", "TORAVIN KELSU", "ORG", None, "", 0.6, None, ["c0"]),
        ("entity", "c0", "d", "Mor Dali", "ORG", None, "", 0.9, None, ["c0"]),
        ("entity", "c0", "d", "Low Value", "ORG", None, "", 0.1, None, ["c0"]),
        ("relationship", "c0", "d", "toravin kelsu", "USES", "Mor Dali", "", None, 0.5, ["c0"]),
        ("relationship", "c0", "d", "TORAVIN KELSU", "USES", "Mor Dali", "", None, 0.5, ["c0"]),
        ("relationship", "c0", "d", "Mor Dali", "USES", "Low Value", "", None, 0.9, ["c0"]),
        ("relationship", "c0", "d", "Mor Dali", "PART_OF", "Toravin Kelsu", "", None, 0.2, ["c0"]),
    ]
    assert checks.triples_from_mentions(rows) == {
        ("toravin kelsu", "USES", "Mor Dali"),
        ("TORAVIN KELSU", "USES", "Mor Dali"),
    }


def test_mention_rows_repeat_per_seed():
    assert inputs.mention_rows(20, 5) == inputs.mention_rows(20, 5)
    assert inputs.mention_rows(20, 5) != inputs.mention_rows(20, 6)


def _task(stage, run_ms, cpu_ns, reason="Success", py_ms=None):
    acc = [] if py_ms is None else [{"Name": "time to run Python workers", "Update": str(py_ms)}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": 100, "Remote Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
        },
    }


def test_event_log_attributes_stages_to_job_groups():
    props = {"spark.jobGroup.id": "layer.a"}
    events = [
        {"Event": "SparkListenerJobStart", "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}, "Properties": {}},
        _task(1, 100, 5e8, py_ms=40),
        _task(1, 300, 5e8, reason="ExceptionFailure"),
        _task(1, 100, 5e8),
        _task(2, 10, 1e8),
        _task(3, 999, 9e9),  # no job group: unattributed
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 0, "Completion Time": 500}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 0, "Completion Time": 50}},
    ]
    m = eventlog.layer_metrics(events)
    assert set(m) == {"layer.a"}
    a = m["layer.a"]
    assert a["jobs"] == 1 and a["tasks"] == 4 and a["failed_tasks"] == 1
    assert abs(a["cpu_s"] - 1.6) < 1e-9 and abs(a["py_worker_s"] - 0.04) < 1e-9
    assert a["shuffle_read_bytes"] == 400 and a["shuffle_write_bytes"] == 200
    assert a["task_skew"] == 3.0  # stage 1 is the longest: max 300 / median 100
