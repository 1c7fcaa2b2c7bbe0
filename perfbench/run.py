"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload prepare_read --seed 1 --seconds 6 --trace 0

Runs from the root of a source checkout, in one process, on Spark
``local[<nproc>]``.  Set-up (session start, inputs, warm-up) is measured
in CPU seconds as ``setup_s``; the workload then runs closed-loop for
``--seconds`` and the last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The line
before it holds the per-run detail: wall-clock latencies with their tail
percentile, every sample, set-up and session times, and errors.  All
scratch lives under ``<checkout>/.perfbench_work`` and is removed on
exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_ENV = ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS")


def _configure_env(work: str) -> dict[str, str]:
    """Point every temp/scratch location of Python, Spark and the JVM
    into ``work``; return the Spark confs that do the same."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = None
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # JVM settings of the benchmark, not the program's defaults (8g
        # heap, tiered JIT): a fixed heap and young generation make the
        # resident set follow retained data instead of adaptive eden
        # sizing, and C1-only JIT reaches steady speed within the warm-up
        # where C2 keeps speeding up for a minute or more
        "spark.driver.extraJavaOptions": (
            "-Xms2g -Xmn512m -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp}"
        ),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }


def _peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark, proc) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _loop(wl, seconds: float) -> list:
    """Closed loop: run steps until ``seconds`` have elapsed and the
    workload's ``min_samples`` exist, so every run's median is taken over
    the same number of operations however fast the host is."""
    from perfbench.workloads import guarded

    out = []
    deadline = time.perf_counter() + seconds
    while len(out) < wl.min_samples or time.perf_counter() < deadline:
        out += guarded(wl.step, "error")
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, sizes=None,
        plant_wrong_count: bool = False) -> tuple[dict, dict]:
    """Run one workload; return ``(result, detail)``."""
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "iceberg_data_gen_spark")):
        raise SystemExit(f"no iceberg_data_gen_spark package under {ROOT}")
    sys.path.insert(0, ROOT)

    from perfbench import report, workloads
    from perfbench.trace import Tracer, read_event_log

    cpu = workloads.CpuMeter(os.getpid())
    cpu_start = cpu.seconds()

    if workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    os.makedirs(work)
    saved_env = {k: os.environ.get(k) for k in _ENV}
    try:
        confs = _configure_env(work)
        events = os.path.join(work, "events")
        if trace:
            os.makedirs(events)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{events}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from pyspark import SparkContext

        from iceberg_data_gen_spark import session

        tracer = Tracer()
        tracer.active = trace
        nproc = len(os.sched_getaffinity(0))
        t_session = time.perf_counter()
        spark, _ = tracer.span(
            "session",
            "get_spark",
            session.get_spark,
            "perfbench",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf=confs,
        )
        proc = getattr(SparkContext._gateway, "proc", None)
        session_s = time.perf_counter() - t_session
        try:
            spark.sparkContext.setLogLevel("ERROR")
            ctx = workloads.Context(spark, tracer, cpu, work, seed, sizes or workloads.FULL)
            ctx.plant_wrong_count = plant_wrong_count
            wl = workloads.WORKLOADS[workload](ctx)
            if trace:
                tracer.install()
            wl.setup()
            setup_s = time.perf_counter() - t_start
            setup_cpu_s = cpu.seconds() - cpu_start
            if trace:
                # half the window untraced, half traced: the difference of
                # their medians is the tracing overhead
                tracer.active = False
                untraced = _loop(wl, seconds / 2)
                tracer.active = True
                traced = _loop(wl, seconds / 2)
                tracer.active = False
            else:
                untraced, traced = _loop(wl, seconds), []
            # read before the checks run: the DuckDB oracle lives in this
            # process and would otherwise count in the peak
            rss = {"python": _peak_rss_mb(os.getpid())}
            if proc is not None:
                rss["jvm"] = _peak_rss_mb(proc.pid)
            checks = wl.checks()
            wl.teardown()
        finally:
            tracer.uninstall()
            t_stop = time.perf_counter()
            _stop_spark(spark, proc)
            stop_s = time.perf_counter() - t_stop
        samples = untraced + traced
        failed = [s for s in samples + checks if not s.ok]
        attempted = len(samples) + len(checks)
        # latencies of completed operations; a raised one has none
        done = [s for s in samples if s.kind != "error"]
        secs = [s.seconds for s in done]
        cpus = [s.cpu for s in done]
        tail_s, tail_pct = report.tail(secs)
        if trace:
            jobs = read_event_log(events)
            values = report.layer_metrics(tracer, jobs, untraced, traced)
            units = report.PER_LAYER
        else:
            values = {
                "setup_s": setup_cpu_s,
                "op_cpu_s": report.median(cpus),
                "op_cpu_tail_s": report.tail(cpus)[0],
                **{m: report.phase_median(done, p, 1) for m, p in wl.phase_metrics.items()},
                "peak_rss_mb": sum(rss.values()),
                "success_rate": (attempted - len(failed)) / attempted,
            }
            units = report.END_TO_END
        result = {
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        kinds = sorted({s.kind for s in samples})
        phases = sorted({p for s in done for p in s.phases})
        detail = {
            "workload": workload,
            "seed": seed,
            "setup_wall_s": setup_s,
            "session_start_s": session_s,
            "stop_s": stop_s,
            "op_s": report.median(secs),
            "op_tail_s": tail_s,
            "tail": {"percentile": tail_pct, "samples": len(secs)},
            "rows_per_s": sum(s.rows for s in done) / max(sum(secs), 1e-9),
            "phase_s": {p: report.phase_median(done, p, 0) for p in phases},
            "phase_cpu_s": {p: report.phase_median(done, p, 1) for p in phases},
            "samples_by_kind": {k: sum(s.kind == k for s in samples) for k in kinds},
            "peak_rss_mb": rss,
            "errors": [s.error for s in failed][:5],
            "samples": [[s.kind, round(s.seconds, 4), round(s.cpu, 3)] for s in samples],
        }
        return result, detail
    finally:
        import tempfile

        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns the parent


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
