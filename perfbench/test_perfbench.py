"""Tests of the benchmark's own checks: each must accept a correct output
and reject a deliberately wrong one. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd

import contacts
import frames
import tracing

BENCH = os.path.dirname(os.path.abspath(__file__))


# -- query results vs oracle -----------------------------------------------------


def _pairs() -> pd.DataFrame:
    return pd.DataFrame(
        {"id_a": [1, 2, 5], "id_b": [3, 4, 9], "jaccard": [0.5, 0.8125, 0.9]}
    )


def test_compare_ignores_row_order_and_representation():
    got = _pairs().iloc[::-1].reset_index(drop=True)
    want = _pairs().astype({"id_a": "float64"})
    want.loc[0, "jaccard"] += 1e-12
    assert frames.compare(got, want) is None


def test_compare_rejects_missing_row():
    assert "rows" in frames.compare(_pairs().iloc[:2], _pairs())


def test_compare_rejects_changed_value():
    bad = _pairs()
    bad.loc[1, "jaccard"] = 0.8126
    assert frames.compare(bad, _pairs()) is not None


def test_compare_rejects_swapped_columns_values():
    bad = _pairs()
    bad[["id_a", "id_b"]] = bad[["id_b", "id_a"]].values
    assert frames.compare(bad, _pairs()) is not None


def test_compare_rejects_renamed_column():
    assert "columns" in frames.compare(_pairs().rename(columns={"jaccard": "j"}), _pairs())


def test_compare_normalizes_arrays_decimals_and_dates():
    import datetime as dt
    import decimal

    import numpy as np

    got = pd.DataFrame({"a": [[1, 2]], "d": [decimal.Decimal("1.50")], "t": [dt.date(2024, 1, 2)]})
    want = pd.DataFrame({"a": [np.array([1, 2])], "d": [1.5], "t": [pd.Timestamp("2024-01-02")]})
    assert frames.compare(got, want) is None
    want.loc[0, "d"] = 1.25
    assert frames.compare(got, want) is not None


# -- contact ETL output vs the benchmark's fold ------------------------------------------


def test_extract_phones_follows_reference_tokenizer():
    assert contacts.extract_phones(" 081 234,  0899;/0899 /") == ["081234", "0899", "0899"]
    assert contacts.extract_phones(None) == []
    assert contacts.extract_phones(" ,;/ ") == []


def test_merge_phones_keeps_slots_and_overflows_to_extras():
    slots = ["a", "b"] + [None] * 8
    s, e = contacts.merge_phones(slots, [], ["b", "c", "c", "a"])
    assert s[:3] == ["a", "b", "c"] and s[3:] == [None] * 7 and e == []
    full = [str(i) for i in range(10)]
    s, e = contacts.merge_phones(full, ["x"], ["y", "x", "3", "y", "z"])
    assert s == full and e == ["x", "y", "z"]


def _stream(seed: int = 7) -> contacts.ContactStream:
    st = contacts.ContactStream(seed, preload=300, page_size=100)
    st.ensure(2000)
    return st


def test_stream_is_deterministic_and_mixed():
    a, b = _stream(), _stream()
    assert a.records == b.records
    assert a.records != _stream(8).records
    assert [r["id"] for r in a.records] == list(range(1, 2001))
    tel = "".join(r["tel_no"] or "" for r in a.records)
    assert all(d in tel for d in (",", ";", "/", " "))
    keys = [r["hn_code"] for r in a.records]
    assert len(set(keys)) < len(keys)
    # the contact_batch columns, 0 to 6 phones a record
    cols = [c.split()[0] for c in contacts.RECORD_SCHEMA.split(", ")]
    assert all(list(r) == cols for r in a.records)
    counts = {len(contacts.extract_phones(r["tel_no"])) for r in a.records}
    assert counts == set(range(contacts.MAX_PHONES + 1))
    # some keys overflow the ten slots
    assert any(v["extras"] for v in contacts.fold(a.records).values())


def _outputs(records):
    """What a correct job writes for ``records``: counters, sink, state."""
    want = contacts.fold(records)
    seen: set[str] = set()
    inserts = 0
    for r in records:
        inserts += r["hn_code"] not in seen
        seen.add(r["hn_code"])
    sink = [
        {
            **{c: v["last"][c] for c in contacts.ATTR_COLS},
            "recid": v["recid"],
            **dict(zip(contacts.SLOT_COLS, v["slots"])),
            "note_other": ",".join(v["extras"]) or None,
            "rectype": "BIGDATA",
        }
        for k, v in want.items()
    ]
    state = [
        {"hn_code": k, "slots": [p for p in v["slots"] if p], "extras": list(v["extras"])}
        for k, v in want.items()
    ]
    return [(inserts, len(records) - inserts)], sink, state


def _check(records, counters, sink, state, wm=None):
    wm = len(records) if wm is None else wm
    return contacts.check_contacts(records, counters, sink, state, wm)


def test_contact_check_accepts_correct_output():
    recs = _stream().records
    assert _check(recs, *_outputs(recs)) == []


def _overflowing(sink):
    return next(i for i, r in enumerate(sink) if r["note_other"])


def test_contact_check_rejects_dropped_phone():
    recs = _stream().records
    counters, sink, state = _outputs(recs)
    i = next(i for i, r in enumerate(state) if r["slots"])
    state[i]["slots"] = state[i]["slots"][:-1]
    assert _check(recs, counters, sink, state)
    counters, sink, state = _outputs(recs)
    j = _overflowing(sink)
    sink[j]["note_other"] = ",".join(sink[j]["note_other"].split(",")[1:]) or None
    assert _check(recs, counters, sink, state)


def test_contact_check_rejects_swapped_slot():
    recs = _stream().records
    counters, sink, state = _outputs(recs)
    r = sink[_overflowing(sink)]
    r["tel_no"], r["tel_no2"] = r["tel_no2"], r["tel_no"]
    assert any("slot" in p for p in _check(recs, counters, sink, state))


def test_contact_check_rejects_missing_row():
    recs = _stream().records
    counters, sink, state = _outputs(recs)
    assert _check(recs, counters, sink[1:], state)
    assert _check(recs, counters, sink, state[:-1])


def test_contact_check_rejects_duplicate_phone_and_row():
    recs = _stream().records
    counters, sink, state = _outputs(recs)
    state[0]["extras"] = state[0]["extras"] + [state[0]["slots"][0]]
    assert any("duplicate" in p for p in _check(recs, counters, sink, state))
    counters, sink, state = _outputs(recs)
    assert any("duplicate keys" in p for p in _check(recs, counters, sink + sink[:1], state))


def test_contact_check_rejects_wrong_counters_and_watermark():
    recs = _stream().records
    counters, sink, state = _outputs(recs)
    (ins, upd), = counters
    assert _check(recs, [(ins + 1, upd - 1)], sink, state)
    assert _check(recs, [(ins, upd - 1)], sink, state)
    assert _check(recs, counters, sink, state, wm=len(recs) - 1)


def test_contact_check_rejects_stale_attributes():
    recs = _stream().records
    counters, sink, state = _outputs(recs)
    sink[0]["recid"] -= 1
    assert _check(recs, counters, sink, state)
    counters, sink, state = _outputs(recs)
    sink[0]["province"] = "nowhere"
    assert any("province" in p for p in _check(recs, counters, sink, state))


# -- failed operations ---------------------------------------------------------------


class _FakeSpark:
    """Just enough of a session for ``query_pass``: no Spark, no JVM."""

    class sparkContext:
        @staticmethod
        def setJobGroup(*_):
            pass

        @classmethod
        def statusTracker(cls):
            return cls

        @staticmethod
        def getJobIdsForGroup(_):
            return []

    class catalog:
        @staticmethod
        def clearCache():
            pass


class _NoopFrame:
    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        time.sleep(0.01)


def _broken(spark, data):
    raise RuntimeError("broken query")


def _query_run(fns):
    import types

    import workloads

    args = types.SimpleNamespace(seconds=0, seed=1, trace=0)
    run = workloads.Run(_FakeSpark, args, time.time(), "")
    run.warmed()
    rows = {n: 100 for n in workloads.LLM_QUERIES}
    run.timed(lambda r: workloads.query_pass(run, fns, rows, r))
    return run


def test_failed_query_adds_no_time_or_records_and_marks_the_run():
    import workloads

    fns = {n: (lambda s, d: _NoopFrame()) for n in workloads.LLM_QUERIES}
    broken = workloads.LLM_QUERIES[1]
    fns[broken] = _broken
    run = _query_run(fns)
    n = len(workloads.LLM_QUERIES)
    assert run.batches == workloads.BATCHES_PER_ROUND
    assert run.attempted == n * run.batches and run.failed == run.batches
    assert run.records == 100 * (n - 1) * run.batches
    assert broken not in run.op_times and len(run.op_times) == n - 1
    assert run.problems and "broken query" in run.problems[0]
    e2e = run.end_to_end()
    assert e2e["records_per_s"] == run.records / sum(run.batch_times)


def test_every_query_failing_still_reports():
    import workloads

    run = _query_run({n: _broken for n in workloads.LLM_QUERIES})
    assert run.failed == run.attempted and run.records == 0 and run.problems
    e2e = run.end_to_end()
    assert e2e["records_per_s"] == 0.0 and e2e["batch_s"] == 0.0


# -- tracing ----------------------------------------------------------------------------


def test_parse_event_log_groups_jobs_and_banded_rows(tmp_path):
    plan = {
        "nodeName": "BroadcastHashJoin",
        "simpleString": "BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, (id#3L < id#4L), false",
        "metrics": [{"name": "number of output rows", "accumulatorId": 77}],
        "children": [],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Stage Infos": [{"Stage Name": "parquet at X.java:0"}],
         "Properties": {"spark.jobGroup.id": "t:0:q:build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1, 2], "Stage Infos": [], "Properties": {"spark.jobGroup.id": "t:0:q:exec"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 2e9, "Disk Bytes Spilled": 1048576,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2097152}},
         "Task Info": {"Accumulables": [{"ID": 77, "Name": "number of output rows", "Update": "12"}]}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events))
    g = tracing.parse_event_log(str(log))
    assert g["t:0:q:build"]["jobs"] == 1 and g["t:0:q:build"]["schema_jobs"] == 1
    ex = g["t:0:q:exec"]
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 1, 1)
    assert ex["cpu_s"] == 2.0 and ex["spill_mb"] == 1.0 and ex["shuffle_write_mb"] == 2.0
    assert ex["first_submit"] == 2.5 and ex["banded_rows"] == 12


def test_process_tree_readings():
    assert tracing.tree_cpu_s() > 0
    assert tracing.peak_rss_mb() > 0
    assert tracing.process_start_epoch() <= time.time()


# -- the definition -----------------------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    import run

    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert "setup_s" in names


def test_runner_refuses_without_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", ".trace", "data"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
