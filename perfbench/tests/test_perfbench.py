"""Hermetic tests of the benchmark's own logic: no Spark, no generated
inputs, nothing the benchmark writes. Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import measure  # noqa: E402
import tracing  # noqa: E402


# ------------------------------------------------------- event-log folding
def _event(**kw):
    return json.dumps(kw) + "\n"


def _stage(sid, tasks, **acc):
    names = {
        "run": "internal.metrics.executorRunTime",
        "cpu": "internal.metrics.executorCpuTime",
        "gc": "internal.metrics.jvmGCTime",
        "sw": "internal.metrics.shuffle.write.bytesWritten",
        "srl": "internal.metrics.shuffle.read.localBytesRead",
        "srr": "internal.metrics.shuffle.read.remoteBytesRead",
        "mem": "internal.metrics.memoryBytesSpilled",
        "disk": "internal.metrics.diskBytesSpilled",
        "in": "internal.metrics.input.bytesRead",
    }
    return _event(**{
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Number of Tasks": tasks,
            "Accumulables": [
                {"ID": i, "Name": names[k], "Value": v}
                for i, (k, v) in enumerate(acc.items())
            ],
        },
    })


@pytest.fixture
def tiny_log(tmp_path):
    """Two grouped jobs (one reusing a stage of the other), one job
    outside any group, split over two rolled event-log files."""
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text(
        _event(Event="SparkListenerApplicationStart")
        + _event(**{
            "Event": "SparkListenerJobStart", "Job ID": 0,
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "quality"},
        })
        + _stage(0, 4, run=1500, cpu=2_000_000_000, gc=100, sw=300, **{"in": 1000})
        + _stage(1, 1, run=500, srl=200, srr=100, mem=7, disk=3)
    )
    (d / "events_2_local-1").write_text(
        _event(**{
            "Event": "SparkListenerJobStart", "Job ID": 1,
            "Stage IDs": [1, 2],
            "Properties": {"spark.jobGroup.id": "io.writers"},
        })
        + _stage(2, 2, run=250, **{"in": "64"})
        + _event(**{"Event": "SparkListenerJobStart", "Job ID": 2,
                    "Stage IDs": [3], "Properties": {}})
        + _stage(3, 1, run=10)
    )
    (d / "appstatus_local-1").write_text("")
    return tmp_path


def test_find_event_log_orders_rolled_files(tiny_log):
    files = tracing.find_event_log(str(tiny_log))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1"
    ]


def test_fold_event_log_groups_stages_by_first_job(tiny_log):
    got = tracing.fold_event_log(tracing.find_event_log(str(tiny_log)))
    q = got["quality"]
    assert q["jobs"] == 1
    assert q["stages"] == 2 and q["tasks"] == 5  # stage 1 stays with job 0
    assert q["exec_run_s"] == pytest.approx(2.0)
    assert q["exec_cpu_s"] == pytest.approx(2.0)
    assert q["gc_s"] == pytest.approx(0.1)
    assert q["shuffle_write_bytes"] == 300
    assert q["shuffle_read_bytes"] == 300
    assert q["spill_bytes"] == 10
    assert q["input_bytes"] == 1000
    w = got["io.writers"]
    assert (w["jobs"], w["stages"], w["tasks"], w["input_bytes"]) == (1, 1, 2, 64)
    assert got[tracing.UNGROUPED]["stages"] == 1


# ------------------------------------------------------------ byte counting
def test_tree_bytes_splits_data_from_metadata(tmp_path):
    t = tmp_path / "t" / "ingest_on=2020-02-01"
    t.mkdir(parents=True)
    (t / "part-0.snappy.parquet").write_bytes(b"x" * 100)
    (t / ".part-0.snappy.parquet.crc").write_bytes(b"c" * 12)
    (t / "_SUCCESS").write_bytes(b"")
    m = tmp_path / "t" / "_manifests"
    m.mkdir()
    (m / "00000000000000000000.json").write_text('{"ts_ms": 1}')
    assert measure.tree_bytes(str(tmp_path / "t")) == {
        "data_bytes": 100, "data_files": 1, "meta_bytes": 24, "meta_files": 3,
    }
    assert measure.tree_bytes(str(tmp_path / "missing"))["data_bytes"] == 0


def test_stored_bytes_sums_a_workloads_stores(tmp_path):
    for store, size in (("warehouse", 10), ("signatures", 5), ("x", 99)):
        (tmp_path / store).mkdir()
        (tmp_path / store / "a.parquet").write_bytes(b"x" * size)
    assert layers.stored_bytes("curate", str(tmp_path))["data_bytes"] == 5
    assert layers.stored_bytes("backfill", str(tmp_path))["data_bytes"] == 10


# ------------------------------------------------------------------ spans
def test_window_overhead_is_window_minus_task_spans():
    tr = tracing.Tracer(enabled=True)
    tr.spans = [
        {"id": 0, "name": "pipeline.runner.window", "layer": "pipeline.runner",
         "op": "window", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "pipeline.task.a", "layer": "pipeline", "op": "task.a",
         "parent": 0, "start": 0.5, "end": 4.0},
        {"id": 2, "name": "io.readers.read", "layer": "io.readers", "op": "read",
         "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "name": "pipeline.task.b", "layer": "pipeline", "op": "task.b",
         "parent": 0, "start": 4.0, "end": 9.0},
    ]
    assert layers.window_overhead(tr) == pytest.approx(1.5)


def test_disabled_tracer_records_and_patches_nothing():
    mod = types.ModuleType("mod")
    mod.f = lambda x: x + 1
    tr = tracing.Tracer(enabled=False)
    tr.instrument(mod, "layer", "f")
    with tr.span("layer", "op") as sp:
        assert sp is None
    assert mod.f(1) == 2 and tr.spans == []


def test_instrument_nests_spans_and_restores():
    mod = types.ModuleType("mod")
    mod.outer = lambda: mod.inner()
    mod.inner = original = lambda: 7
    tr = tracing.Tracer(enabled=True)
    tr.instrument(mod, "io.versioned", "outer", "inner")
    assert mod.outer() == 7
    assert [s["name"] for s in tr.spans] == [
        "io.versioned.outer", "io.versioned.inner"
    ]
    assert tr.spans[1]["parent"] == 0
    assert len(layers._outermost(tr, "io.versioned")) == 1
    tr.restore()
    assert mod.inner is original


# ------------------------------------------------------- tracing overhead
def test_overhead_compares_with_the_untraced_run_of_the_same_seed(tmp_path):
    rec = tmp_path / "backfill-3-trace0.json"
    assert layers.overhead(str(rec), 12.0)["ratio"] is None
    rec.write_text(json.dumps({"end_to_end": {"run_s": 10.0}}))
    got = layers.overhead(str(rec), 12.0)
    assert got["untraced_run_s"] == 10.0
    assert got["ratio"] == pytest.approx(1.2)
