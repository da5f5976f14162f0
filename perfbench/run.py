"""Layered benchmark of the CellPhe engine.

    python3 perfbench/run.py --workload cellphe_tiff --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one Spark session on
``local[<cpus>]``, one client issuing one iteration at a time (closed
loop). With ``--trace 0`` the run measures set-up, runs one cold
iteration, measures the warm iterations after it and the heap the
driver keeps after each, and prints the end-to-end metrics.
With ``--trace 1`` it runs two untraced iterations, then rebuilds the
workload layer by layer under spans, and prints the per-layer metrics.
Either way it checks the outputs, prints one JSON record per iteration,
and prints the result object as its last line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ContentionProbe,
    RssSampler,
    StderrCapture,
    Tracer,
    cpu_calibration_s,
    group_counts,
    job_intervals,
    live_heap_bytes,
    memory_by_role_bytes,
    parse_event_log,
    preflight_quiet,
    python_worker_cpu_s,
    tree_stats,
    union_length,
)

MIN_WARM = 2
MAX_ITERATIONS = 12
SETUP_REPEATS = 3
QUIET_WAIT_S = 5.0
FLAG_OTHER_CPU = 0.2
FLAG_LOAD_PER_CPU = 1.5

#: per-layer spans and the attributes each reports
SPANS = {
    "images.decode_segment_centroid": ("wall_s", "jobs", "rows_out", "python_cpu_s"),
    "pipeline.detections": ("wall_s", "rows_out"),
    "tracking.track_detections": ("wall_s", "jobs", "rows_out", "python_cpu_s", "shuffle_bytes"),
    "lineage.renumber_tracks": ("wall_s", "jobs", "rows_out", "shuffle_bytes"),
    "pipeline.spots": ("wall_s", "rows_out"),
    "qc_filters.filter_size_and_observations": ("wall_s", "jobs", "rows_out"),
    "movement.movement_features": ("wall_s", "jobs", "rows_out"),
    "timeseries.timeseries_features_multi": ("wall_s", "jobs", "rows_out", "python_cpu_s"),
    "features.static_features_fused": ("wall_s", "jobs", "python_cpu_s"),
    "joins.density_self_join": ("wall_s", "jobs", "rows_out", "shuffle_bytes"),
    "pipeline.summary": ("wall_s", "rows_out"),
    "io.publish": ("wall_s", "bytes_written"),
    "text.html_to_text": ("wall_s", "jobs", "rows_out"),
    "text.gopher_rules": ("wall_s", "jobs", "rows_out"),
    "c24.exact_dedup": ("wall_s", "rows_out", "shuffle_bytes"),
    "dedup.flag_contaminated": ("wall_s", "jobs", "rows_out"),
    "dedup.minhash_near_duplicates": ("wall_s", "jobs", "rows_out", "shuffle_bytes"),
    "dedup.dedup_clusters": ("wall_s", "jobs", "rows_out"),
    "c24.split": ("wall_s", "rows_out"),
    "text.pack_context_windows": ("wall_s", "jobs", "rows_out", "shuffle_bytes"),
    "registry.d3_minhash_near_dups": ("wall_s", "jobs", "rows_out", "shuffle_bytes"),
    "registry.d10_incremental_neardup": ("wall_s", "jobs", "rows_out", "shuffle_bytes"),
}
ATTR_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "rows_out": "count",
    "python_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "bytes_written": "bytes",
}
#: per-layer metrics that are not span attributes
EXTRA_LAYER_METRICS = {
    "qc_filters.keep_ratio": "ratio",
    "features.cells_in": "count",
    "features.cells_out": "count",
    "checkpoint.cuts": "count",
    "checkpoint.bytes_written": "bytes",
    "pipeline.first_run_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.build_s": "s",
    "pipeline.sink_s": "s",
    "pipeline.driver_gap_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
    "spark.failed_tasks": "count",
    "spark.error_logs": "count",
    "host.other_cpu_share": "ratio",
    "host.loadavg_1m": "load",
    "host.flagged_iterations": "count",
    "memory.driver_peak_mb": "MB",
    "memory.jvm_peak_mb": "MB",
    "memory.python_workers_peak_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{span}.{attr}": ATTR_UNITS[attr] for span, attrs in SPANS.items() for attr in attrs
    }
    units.update(EXTRA_LAYER_METRICS)
    return units


END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "heap_live_mb": "MB"}


class Run:
    """One benchmark process: its work directory, Spark session and
    per-iteration bookkeeping."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.root = ROOT
        self.work = os.path.join(HERE, "_work", f"{workload}-{os.getpid()}")
        self.spark = None
        self.cpus = len(os.sched_getaffinity(0))

    def path(self, rel: str) -> str:
        return os.path.join(self.work, rel)

    def environment(self) -> dict:
        """Keep every file Spark and Python write inside the work dir."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        # every JVM the launch starts, the launcher's included: no
        # hsperfdata files, temp files in the work dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start_spark(self, conf: dict):
        from cellphe_data_pipeline_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.sc = self.spark.sparkContext
        return self.spark

    def set_group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def stop_spark(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for them."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 20
        while len(tree_stats()) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in tree_stats():
            if pid != os.getpid():
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        while len(tree_stats()) > 1 and time.monotonic() < deadline + 10:
            time.sleep(0.2)


class TraceSession:
    """Spans around calls into the engine, each under its own job group."""

    def __init__(self, run: Run):
        self.run = run
        self.tracer = Tracer()
        self.attrs: dict = {}

    @contextmanager
    def root(self):
        self.run.set_group("trace")
        with self.tracer.span("trace") as sp:
            yield sp

    @contextmanager
    def layer(self, name: str):
        self.run.set_group(name)
        cpu0 = python_worker_cpu_s()
        with self.tracer.span(name) as sp:
            yield sp
        sp.attrs["python_cpu_s"] = python_worker_cpu_s() - cpu0
        sp.attrs.update(group_counts(self.run.sc, name))
        self.run.set_group("trace")

    def stage(self, name: str, make):
        """Build one layer's output and materialise it behind a cut."""
        from cellphe_data_pipeline_spark.checkpoint import cut_lineage

        with self.layer(name) as sp:
            df = cut_lineage(make(), name=name)
            sp.attrs["rows_out"] = df.count()
        return df

    def span(self, name: str):
        return self.tracer.spans[self.tracer.find(name)]

    def rows(self, name: str) -> int:
        return self.span(name).attrs["rows_out"]


def emit(record: dict) -> None:
    print(json.dumps(record, sort_keys=True), flush=True)


def run_iteration(run: Run, wl, i: int, probe: ContentionProbe, cap: StderrCapture) -> dict:
    group = f"iter.{i}"
    run.set_group(group)
    probe.begin()
    start_epoch = time.time()
    t0 = time.perf_counter()
    rec = {"record": "iteration", "workload": run.workload, "index": i, "ok": True}
    try:
        rec.update(wl.iteration(i))
    except Exception as e:  # a failed iteration is counted, not fatal
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
    rec["wall_s"] = time.perf_counter() - t0
    rec["epoch"] = (start_epoch, time.time())
    host = probe.end()
    counts = group_counts(run.sc, group)
    rec.update(
        {
            "jobs": counts["jobs"],
            "stages": counts["stages"],
            "tasks": counts["tasks"],
            "spark.failed_tasks": counts["failed_tasks"],
            "spark.error_logs": cap.new_error_records(),
            "host.other_cpu_share": host["other_cpu_share"],
            "host.loadavg_1m": host["loadavg_1m"],
        }
    )
    rec["contended"] = contended(host, run.cpus)
    rec["rss_mb"] = {k: v / 2**20 for k, v in memory_by_role_bytes().items()}
    run.set_group("bench")
    return rec


def contended(host: dict, cpus: int) -> bool:
    return (
        host["other_cpu_share"] > FLAG_OTHER_CPU
        or host["loadavg_1m"] > FLAG_LOAD_PER_CPU * cpus
    )


def check_outputs(wl, i: int, rec: dict) -> dict | None:
    try:
        digests, problems = wl.check(i)
    except Exception as e:
        digests, problems = None, [f"check raised {type(e).__name__}: {str(e)[:300]}"]
    rec["digests"] = digests
    rec["problems"] = problems
    if problems:
        rec["ok"] = False
    return digests


def setup(run: Run, wl) -> float:
    """Session start, the median of several input set-ups (write and
    register the seeded inputs) and one trivial query."""
    t0 = time.perf_counter()
    run.start_spark(run.environment())
    run.set_group("setup")
    session_s = time.perf_counter() - t0
    prepare = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.prepare()
        prepare.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up()
    warm_up_s = time.perf_counter() - t
    rec = {
        "record": "setup",
        "workload": run.workload,
        "session_s": session_s,
        "prepare_s": prepare,
        "warm_up_s": warm_up_s,
    }
    rec["setup_s"] = session_s + statistics.median(prepare) + warm_up_s
    emit(rec)
    return rec["setup_s"]


def host_summary(records: list[dict]) -> dict:
    return {
        "spark.failed_tasks": sum(r["spark.failed_tasks"] for r in records),
        "spark.error_logs": sum(r["spark.error_logs"] for r in records),
        "host.other_cpu_share": max(r["host.other_cpu_share"] for r in records),
        "host.loadavg_1m": max(r["host.loadavg_1m"] for r in records),
        "host.flagged_iterations": sum(1 for r in records if r["contended"]),
    }


def timed_loop(run: Run, wl, seconds: float, probe, cap) -> dict:
    records = []
    measured = 0.0
    while len(records) < MAX_ITERATIONS:
        i = len(records)
        rec = run_iteration(run, wl, i, probe, cap)
        if wl.check_each_iteration and rec["ok"]:
            check_outputs(wl, i, rec)
        wl.cleanup(i)
        if 1 <= i <= MIN_WARM:  # the passes heap_live_mb reads
            reads = [b / 2**20 for b in live_heap_bytes(run.sc)]
            rec["heap_live_mb"], rec["heap_reads_mb"] = reads[-1], reads
        emit(rec)
        records.append(rec)
        measured += rec["wall_s"]
        if len(records) > MIN_WARM and measured >= seconds:
            break
    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"])
    if not wl.check_each_iteration:
        rec = {"record": "check", "workload": run.workload, "ok": True}
        check_outputs(wl, attempted, rec)
        emit(rec)
        attempted += 1
        failed += 0 if rec["ok"] else 1
    # the JIT keeps settling over the warm passes, and the driver's
    # status store grows with every job, so wall_s and heap_live_mb
    # always read the same passes (the first MIN_WARM after the first
    # run) however many more a run fits into --seconds
    warm = [r for r in records[1 : 1 + MIN_WARM] if r["ok"]]
    metrics = {
        "wall_s": statistics.median(r["wall_s"] for r in warm) if warm else 0.0,
        "heap_live_mb": statistics.median(r["heap_live_mb"] for r in warm) if warm else 0.0,
    }
    return {"metrics": metrics, "attempted": attempted, "failed": failed, "records": records}


def traced_run(run: Run, wl, probe, cap) -> dict:
    """Two untraced iterations (cold, then warm), then the traced
    rebuild; the traced outputs must match the untraced ones."""
    records = []
    reference = None
    sampler = RssSampler().start()
    try:
        for i in range(2):
            sampler.resume()
            rec = run_iteration(run, wl, i, probe, cap)
            sampler.pause()
            if rec["ok"] and i == 1:
                rec.update(wl.cut_stats(i))
            if rec["ok"] and (wl.check_each_iteration or i == 1):
                reference = check_outputs(wl, i, rec)
            wl.cleanup(i)
            emit(rec)
            records.append(rec)
    finally:
        sampler.stop()
    warm = records[1]
    t = TraceSession(run)
    probe.begin()
    errors = None
    try:
        traced_digests, problems = wl.traced(t)
    except Exception as e:
        traced_digests, problems = None, [f"traced run raised {type(e).__name__}: {str(e)[:300]}"]
        errors = traceback.format_exc()
    host = probe.end()
    run.set_group("bench")
    if reference is not None and traced_digests != reference:
        problems.append(
            f"trace fidelity: traced outputs {traced_digests} != untraced {reference}"
        )
    trace_rec = {
        "record": "trace",
        "workload": run.workload,
        "ok": not problems,
        "problems": problems,
        "digests": traced_digests,
        "host.other_cpu_share": host["other_cpu_share"],
        "host.loadavg_1m": host["loadavg_1m"],
        "contended": contended(host, run.cpus),
        "spark.failed_tasks": sum(s.attrs.get("failed_tasks", 0) for s in t.tracer.spans),
        "spark.error_logs": cap.new_error_records(),
    }
    if errors:
        trace_rec["traceback"] = errors[-2000:]
    emit(trace_rec)
    peaks = {f"memory.{k}_peak_mb": v / 2**20 for k, v in sampler.peak_by_role.items()}
    return {"records": records, "trace": t, "trace_rec": trace_rec, "warm": warm, "peaks": peaks}


def layer_metrics(run: Run, out: dict, log: dict) -> dict:
    t: TraceSession = out["trace"]
    warm = out["warm"]
    metrics = {name: 0.0 for name in per_layer_units()}
    spans = {s.name: (i, s) for i, s in enumerate(t.tracer.spans)}
    for name, attrs in SPANS.items():
        if name not in spans:
            continue  # a layer this workload does not run reads 0
        idx, sp = spans[name]
        values = dict(sp.attrs)
        values["wall_s"] = t.tracer.self_time(idx)
        values["shuffle_bytes"] = log["shuffle_bytes"].get(name, 0)
        for attr in attrs:
            metrics[f"{name}.{attr}"] = values.get(attr, 0)
    metrics.update(t.attrs)
    if "trace" in spans:
        idx, root = spans["trace"]
        metrics["trace.coverage"] = 1.0 - t.tracer.self_time(idx) / root.duration
        metrics["trace.overhead_s"] = root.duration - warm["wall_s"]
    cold = out["records"][0]
    if cold["ok"]:
        metrics["pipeline.first_run_s"] = cold["wall_s"]
    if warm["ok"]:
        start, end = warm["epoch"]
        covered = union_length(
            (max(s, start), min(e, end)) for s, e in job_intervals(log, "iter.1")
        )
        metrics.update(
            {
                "checkpoint.cuts": warm.get("checkpoint.cuts", 0),
                "checkpoint.bytes_written": warm.get("checkpoint.bytes_written", 0),
                "pipeline.jobs": warm["jobs"],
                "pipeline.stages": warm["stages"],
                "pipeline.tasks": warm["tasks"],
                "pipeline.build_s": warm["build_s"],
                "pipeline.sink_s": warm["sink_s"],
                "pipeline.driver_gap_s": (end - start) - covered,
            }
        )
    metrics.update(host_summary(out["records"] + [out["trace_rec"]]))
    metrics.update(out["peaks"])
    return metrics


def program_present() -> str | None:
    """Name what is missing if the engine is not importable here."""
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import cellphe_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        return str(e)
    if not os.path.isfile(os.path.join(ROOT, "scripts", "verify_local.py")):
        return "scripts/verify_local.py"
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from workloads import WORKLOADS

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = program_present()
    if missing:
        print(f"perfbench: the engine is not available here ({missing})", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    cap = StderrCapture(run.path("stderr.log"))
    real_stderr = os.fdopen(os.dup(cap.saved), "w")
    ok = False
    try:
        quiet = preflight_quiet(QUIET_WAIT_S)
        emit(
            {
                "record": "preflight",
                "workload": run.workload,
                "cpus": run.cpus,
                "cpu_calibration_s": cpu_calibration_s(),
                **quiet,
            }
        )
        wl = WORKLOADS[args.workload](run)
        probe = ContentionProbe()
        setup_s = setup(run, wl)
        cap.new_error_records()
        if args.trace:
            out = traced_run(run, wl, probe, cap)
            run.stop_spark()
            log = parse_event_log(
                sorted(glob.glob(run.path("eventlog/**/events_*"), recursive=True))
            )
            metrics = layer_metrics(run, out, log)
            attempted = len(out["records"]) + 1
            failed = sum(1 for r in out["records"] if not r["ok"]) + (
                0 if out["trace_rec"]["ok"] else 1
            )
            units = per_layer_units()
        else:
            res = timed_loop(run, wl, args.seconds, probe, cap)
            run.stop_spark()
            metrics = dict(res["metrics"], setup_s=setup_s)
            attempted, failed = res["attempted"], res["failed"]
            units = END_TO_END_UNITS
            emit({"record": "host", "workload": run.workload, **host_summary(res["records"])})
        ok = failed == 0
        cap.restore()
        print(
            json.dumps(
                {
                    "correct": ok,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {
                        name: {"value": float(metrics[name]), "unit": unit}
                        for name, unit in units.items()
                    },
                }
            ),
            flush=True,
        )
    except BaseException:
        real_stderr.write(traceback.format_exc())
        raise
    finally:
        if not ok:
            real_stderr.write(cap.tail())
        real_stderr.flush()
        try:
            run.stop_spark()
        except Exception:
            pass
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))  # only when no other run uses it
        except OSError:
            pass
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
