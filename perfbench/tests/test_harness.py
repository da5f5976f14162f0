"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

# ---------------------------------------------------------------- digests


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", 1.25), (3, "c", -2.0)]
    a = harness.digest_rows(["id", "name", "x"], rows)
    shuffled = [rows[2], rows[0], rows[1]]
    b = harness.digest_rows(["id", "name", "x"], shuffled)
    reordered = [(x, i, n) for i, n, x in shuffled]
    c = harness.digest_rows(["x", "id", "name"], reordered)
    assert a == b == c
    assert a["rows"] == 3


def test_digest_sees_values_and_duplicates():
    base = harness.digest_rows(["k"], [(1,), (2,)])
    assert harness.digest_rows(["k"], [(1,), (3,)]) != base
    # a multiset: a repeated row changes the digest, and two repeats
    # do not cancel out
    assert harness.digest_rows(["k"], [(1,), (2,), (2,)]) != base
    assert harness.digest_rows(["k"], [(1,), (2,), (2,), (2,)])["digest"] != base["digest"]


def test_digest_rounds_floats_and_unwraps_nested_values():
    import numpy as np

    a = harness.digest_rows(["x", "v"], [(0.1 + 0.2, [1.0, 2.0])])
    b = harness.digest_rows(["x", "v"], [(np.float64(0.3), np.array([1.0, 2.0]))])
    assert a == b
    assert harness.digest_rows(["x"], [(-0.0,)]) == harness.digest_rows(["x"], [(0.0,)])
    assert harness.digest_rows(["x"], [(0.3001,)]) != harness.digest_rows(["x"], [(0.3,)])


def test_digest_pandas_matches_digest_rows():
    import pandas as pd

    pdf = pd.DataFrame({"b": [2.5, 1.5], "a": [1, 2]})
    assert harness.digest_pandas(pdf) == harness.digest_rows(["a", "b"], [(2, 1.5), (1, 2.5)])


# ------------------------------------------------------------------ spans


def test_union_length_merges_overlaps():
    assert harness.union_length([]) == 0.0
    assert harness.union_length([(0, 1), (2, 3)]) == 2.0
    assert harness.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0
    assert harness.union_length([(3, 1)]) == 0.0


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_child_coverage():
    clock = FakeClock()
    t = harness.Tracer(clock)
    with t.span("root"):
        clock.now = 1.0
        with t.span("a"):
            clock.now = 3.0
            with t.span("a.inner"):
                clock.now = 4.0
        clock.now = 4.5
        with t.span("b"):
            clock.now = 6.0
        clock.now = 10.0
    root, a, inner, b = (t.find(n) for n in ("root", "a", "a.inner", "b"))
    assert t.spans[root].duration == 10.0
    assert t.self_time(root) == pytest.approx(10.0 - 3.0 - 1.5)
    assert t.self_time(a) == pytest.approx(2.0)
    assert t.self_time(inner) == pytest.approx(1.0)
    assert t.self_time(b) == pytest.approx(1.5)
    assert t.spans[inner].parent == a


# -------------------------------------------------------- process tree


def test_rss_sampler_counts_a_python_worker():
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys, time; b = bytearray(96 << 20); b[::4096] = b'x' * len(b[::4096]);"
            " print('ready', flush=True); time.sleep(30)",
            # named like a Spark Python worker, so the sampler counts it
            "pyspark.worker",
        ],
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline().strip() == b"ready"
        assert child.pid in harness.tree_stats()
        assert harness.process_roles()[child.pid] == "python_workers"
        sampler = harness.RssSampler(interval_s=0.05).start()
        time.sleep(0.3)
        sampler.stop()
        assert sampler.peak_by_role["python_workers"] >= 90 << 20
        assert sampler.peak_by_role["driver"] > 0
        assert sampler.samples >= 2
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in harness.tree_stats()


class FakeJvm:
    """Just enough of a py4j JVM view for ``live_heap_bytes``: each
    ``System.gc()`` moves the heap to the next reading."""

    def __init__(self, readings):
        self.readings = list(readings)
        self.used = None
        self.gcs = 0
        jvm = self

        class _System:
            @staticmethod
            def gc():
                jvm.used = jvm.readings[min(jvm.gcs, len(jvm.readings) - 1)]
                jvm.gcs += 1

        class _Usage:
            @staticmethod
            def getUsed():
                return jvm.used

        class _Bean:
            @staticmethod
            def getHeapMemoryUsage():
                return _Usage

        class _Factory:
            @staticmethod
            def getMemoryMXBean():
                return _Bean

        self.java = type("java", (), {})()
        self.java.lang = type("lang", (), {"System": _System})()
        self.java.lang.management = type("management", (), {"ManagementFactory": _Factory})()


class FakeContext:
    def __init__(self, readings):
        self._jvm = FakeJvm(readings)


def test_live_heap_waits_for_the_cleaner_to_settle():
    # the first collection still sees cached blocks; the reading is the
    # first of three in a row that agree within 2%
    sc = FakeContext([275, 78, 76, 75, 75, 40])
    assert harness.live_heap_bytes(sc, settle_s=0) == [275, 78, 76, 75, 75]
    # a heap that never settles stops after `rounds` collections
    sc = FakeContext([100, 200, 100, 200, 100, 200])
    assert len(harness.live_heap_bytes(sc, rounds=4, settle_s=0)) == 4


def test_contention_probe_reports_a_share():
    probe = harness.ContentionProbe()
    probe.begin()
    time.sleep(0.2)
    out = probe.end()
    assert 0.0 <= out["other_cpu_share"] <= 1.0
    assert out["loadavg_1m"] >= 0.0


# ----------------------------------------------------------- logs/events


def test_count_error_records_counts_log4j_errors_only():
    text = (
        b"26/10/17 03:06:59 ERROR DAGScheduler: Failed to update accumulator 1\n"
        b"26/10/17 03:06:59 WARN SparkConf: something\n"
        b"Traceback: ERROR in user code\n"
        b"26/10/17 03:07:00 ERROR DAGScheduler: Failed to update accumulator 2\n"
    )
    assert harness.count_error_records(text) == 2


def test_parse_event_log_groups_jobs_and_shuffle(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "g2"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
    ]
    path = tmp_path / "events_1_app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = harness.parse_event_log([str(path)])
    assert log["shuffle_bytes"] == {"g1": 150}
    assert harness.job_intervals(log, "g1") == [(1.0, 2.5)]
    assert harness.job_intervals(log, "g2") == [(3.0, 3.5)]


# ---------------------------------------------------------------- inputs


def test_documents_are_seed_deterministic():
    a = inputs.make_documents(7, 300)
    assert a == inputs.make_documents(7, 300)
    assert a["text"] != inputs.make_documents(8, 300)["text"]
    assert a["doc_id"] == list(range(300))
    assert all(len(t) == n for t, n in zip(a["text"], a["n_chars"]))
    assert set(" ".join(a["text"]).split()) <= set(inputs.WORDS)


def test_tiff_timelapses_are_seed_deterministic():
    sys.path.insert(0, ROOT)
    pytest.importorskip("cellphe_data_pipeline_spark.domain.images")
    a = inputs.make_tiff_timelapses(3, n_files=2, n_frames=2, size=32, n_cells=3)
    assert a == inputs.make_tiff_timelapses(3, n_files=2, n_frames=2, size=32, n_cells=3)
    assert a != inputs.make_tiff_timelapses(4, n_files=2, n_frames=2, size=32, n_cells=3)
    assert all(f.startswith(b"II*\x00") for f in a)


# ---------------------------------------------------------- output checks


def test_tiff_invariants_catch_blowups_and_dropped_tracks():
    import pandas as pd
    from workloads import CellpheTiff

    class FakeRun:
        def path(self, rel):
            return rel

    wl = CellpheTiff(FakeRun())
    summary = pd.DataFrame({"id": [1, 2, 3], "TRACK_ID": [10, 10, 11]})
    ts = pd.DataFrame({"TRACK_ID": [10, 11]})
    frames = {"summary": summary, "timeseries": ts}
    assert wl.invariants(frames, {10, 11}, cells_out=3) == []
    # more summary rows than M4 produced: a join blow-up
    assert wl.invariants(frames, {10, 11}, cells_out=2)
    # a QC-surviving track with no timeseries row
    assert wl.invariants(frames, {10, 11, 12}, cells_out=3)
    # two timeseries rows for one track
    assert wl.invariants({"summary": summary, "timeseries": pd.concat([ts, ts])}, {10, 11}, 3)
    # duplicated spot ids
    dup = pd.DataFrame({"id": [1, 1], "TRACK_ID": [10, 11]})
    assert wl.invariants({"summary": dup, "timeseries": ts}, {10, 11}, 3)


# ------------------------------------------------------------- contract


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cellphe_tiff", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, timeout=60,
    )
    assert proc.returncode != 0
    assert b'"correct"' not in proc.stdout
