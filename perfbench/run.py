"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Runs one workload (``ingest`` or ``maintain``; see README.md) against
the package in the enclosing checkout, checks its outputs, and prints a
readable report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.  The
exit code is 0 only when every output check passed and no unit raised;
it is 2, with no result line, when the package is not in the checkout.

All files the run writes (inputs, warehouse, checkpoints, sinks, Spark
local dirs) live under one scratch directory inside the checkout that
is deleted on exit.  Before it exits, the run stops the Spark JVM and
waits until every process it started (the JVM and its Python workers)
has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hdfs_stream_processing_spark"

SPEC = os.path.join(ROOT, "BENCHMARK.json")  # metric names and units

# Units stop being started this long after process start, so a run
# always ends well inside its 180 s limit.
HARD_DEADLINE_S = 120

# The traced run of this workload also runs the curation probe (after
# the workload and outside the RSS sampler), so the curation operators
# have per-layer numbers although no benchmark workload runs them.
CURATE_PROBE_ON = "ingest"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(scratch: str, trace: bool):
    """The package's session factory at ``nproc`` cores, with
    every Spark directory inside the run's scratch directory."""
    from hdfs_stream_processing_spark import get_spark

    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every timed job's stages for the status-store totals
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)),
                     extra_conf=conf)


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants (Linux): a
    Spark Python worker whose JVM has ended is re-parented here rather
    than to init, so :func:`end_children` can wait for it too."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM PySpark launched for it:
    closing the JVM's stdin is PySpark's own signal for it to exit."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            with contextlib.suppress(subprocess.TimeoutExpired):
                proc.wait(timeout=30)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            if ppid == me:
                out.append(int(d))
    return out


def end_children(grace_s: float = 20.0) -> None:
    """Return once every child of this process (adopted orphans
    included) has ended and been reaped.  Children still running after
    ``grace_s`` get SIGTERM, and SIGKILL 5 s after that."""
    deadline, sig = time.monotonic() + grace_s, None
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(SPEC) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def end_to_end(out, setup_s: float) -> dict[str, float]:
    import measure

    return {
        "setup_s": setup_s,
        "rows_per_s": sum(out.unit_rows) / out.window_s if out.window_s else 0.0,
        "latency_p50_ms": measure.median(out.unit_ms),
        "heap_live_mb": out.heap_mb,
        "transform_s": out.transform_s,
    }


def report(args, out, values: dict, units: dict, t_proc: float) -> None:
    import measure

    half = len(out.unit_ms) // 2
    first, second = measure.median(out.unit_ms[:half]), measure.median(out.unit_ms[half:])
    drift = (second / first - 1.0) * 100.0 if first else 0.0
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cpus={len(os.sched_getaffinity(0))}")
    print(f"timed units={len(out.unit_ms)} window={out.window_s:.2f}s "
          f"attempted={out.attempted} failed={out.failed}")
    print("timed unit latencies (ms): " + " ".join(f"{m:.0f}" for m in out.unit_ms))
    print(f"unit latency median: first half {first:.1f} ms, second half {second:.1f} ms "
          f"({drift:+.1f}%)")
    print("warm-up unit latencies (ms): " + " ".join(f"{m:.0f}" for m in out.warmup_ms))
    print(f"wall: {time.time() - t_proc:.1f} s since process start, "
          f"{time.time() - out.first_unit_start - out.window_s:.1f} s after the window")
    for name, ok in out.checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    for name, v in values.items():
        print(f"{name} = {v:.6g} {units[name]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # A terminated run still stops Spark and removes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    end_units, layer_units = declared_metrics()
    sys.path.insert(1, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import measure
    import workloads

    t_proc = measure.process_start_epoch()
    workloads.log("imports done")
    scratch = os.path.join(ROOT, ".perfbench-scratch", f"run-{os.getpid()}")
    os.makedirs(scratch)
    spark = None
    try:
        with measure.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            t0 = time.perf_counter()
            spark = start_session(scratch, bool(args.trace))
            session_ms = (time.perf_counter() - t0) * 1e3
            workloads.log("session started")
            ctx = workloads.Ctx(spark=spark, scratch=scratch, seed=args.seed,
                                seconds=args.seconds, trace=bool(args.trace),
                                hard_deadline=t_proc + HARD_DEADLINE_S)
            out = workloads.WORKLOADS[args.workload](ctx)
            workloads.log("checks done")
        if args.trace:
            measured = dict(out.layers)
            if args.workload == CURATE_PROBE_ON:
                probe_layers, probe_checks = workloads.curate_probe(ctx)
                workloads.log("curation probe done")
                measured.update(probe_layers)
                out.checks.update(probe_checks)
                if not all(probe_checks.values()):
                    out.failed = out.attempted
            measured["session.get_spark_ms"] = session_ms
            measured["mem.peak_rss_mb"] = rss.peak_kb / 1024
            measured["mem.py_rss_mb"] = measure.py_rss_mb()
            measured["trace.latency_p50_ms"] = measure.median(out.unit_ms)
            units = layer_units
            values = dict.fromkeys(units, 0.0)  # layers the workload never touched
        else:
            measured = end_to_end(out, out.first_unit_start - t_proc)
            units = end_units
            values = {}
        missing = set(units) - set(measured) - set(values)
        undeclared = set(measured) - set(units)
        if missing or undeclared:
            raise RuntimeError(f"metrics differ from {SPEC}: missing {sorted(missing)}, "
                               f"undeclared {sorted(undeclared)}")
        values.update(measured)
        report(args, out, values, units, t_proc)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        # Every process the run started has ended before it exits.
        stop_spark(spark)
        end_children()
        workloads.log("spark stopped, every child process ended")
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run's scratch is still there
    correct = out.failed == 0 and all(out.checks.values())
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
