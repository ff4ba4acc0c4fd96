"""Pipeline-level benchmark for drune_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Load model: a closed loop with one client. Operations run one after
another in this process against one SparkSession (``local[nproc]``).
After generating the seeded inputs the run

1. sets up: imports the program, starts the session, loads the project
   (config) and runs the first, cold operation; ``setup_s`` covers all
   of it;
2. computes the reference outputs and checks the first operation's
   output, including that the check rejects a corrupted output; then
   runs untimed burn-in operations for ``BURN_IN_S`` while the JVM's
   JIT settles (operation times keep falling for tens of seconds);
3. runs timed operations until their summed wall time reaches
   ``--seconds``, checking each operation's output (untimed).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, wraps the program's layer entry points (perfbench/
spans.py), traces every other operation and prints the per-layer
metrics; the untraced operations in between give the tracing overhead.
The last stdout line is the JSON result; the line before it records the
host, the input properties and the sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import gen

WORK = ".perfbench_work"
MAX_LOOP_S = 100        # hard stop for the timed loop, whatever --seconds says
DEADLINE_S = 170        # a run that has not finished by then fails
BURN_IN_S = 12          # untimed operations after set-up, while the JIT settles
MIN_OPS = 5             # timed operations per run, at least (traced runs: 3 + 2)


def _rss_kb(pid: str, field: str = "VmHWM") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {field} for pid {pid}")


def _reset_peak_rss(pid: str) -> None:
    """Restart a process's VmHWM from its current RSS, so a peak is
    measured over one operation only."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _anchor_s() -> float:
    """Seconds for a fixed single-threaded Python loop: how fast this
    host runs right now, recorded beside each run's results."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version(), "pyspark": pyspark.__version__}


def _deployment_env(work: str) -> None:
    """The settings Tier-1 sets (cores, Spark scratch dir), plus scratch
    locations that keep every file the run writes inside the checkout."""
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(work, "spark-local"))
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session and the JVM the gateway started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS, check, self_test

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    work = os.path.join(WORK, workload)
    shutil.rmtree(WORK, ignore_errors=True)
    _deployment_env(WORK)
    phases = {}
    t_gen = time.perf_counter()
    props, truth = gen.generate(workload, seed, work)
    phases["generate_s"] = time.perf_counter() - t_gen
    wl = WORKLOADS[workload](work, props, truth)

    # -- 1. set-up ------------------------------------------------------------
    t0 = time.perf_counter()
    from drune_spark.session import get_spark
    from spans import Tracer

    options = {}
    log_dir = os.path.abspath(os.path.join(WORK, "eventlog"))
    if trace:
        os.makedirs(log_dir)
        # One plain-text file, parsed offline once the session stops.
        options = {"spark.eventLog.enabled": "true",
                   "spark.eventLog.dir": "file://" + log_dir,
                   "spark.eventLog.compress": "false",
                   "spark.eventLog.rolling.enabled": "false"}
    t_session = time.perf_counter()
    spark = get_spark("perfbench", options=options)
    session_s = time.perf_counter() - t_session
    tracer = Tracer(spark)
    tracer.enabled = trace
    if trace:
        tracer.install()
    try:
        wl.load(spark)
        wl.before_op()
        with tracer.span("op"):
            wl.op()
        setup_s = time.perf_counter() - t0
        phases["session_s"] = session_s

        # -- 2. references, the check's self-test, burn-in -----------------
        t_ref = time.perf_counter()
        wl.reference()
        problems = [f"first operation: {m}" for m in check(wl)]
        problems += [f"self-test: {m}" for m in self_test(wl)]
        phases["reference_and_selftest_s"] = time.perf_counter() - t_ref
        t_burn = time.perf_counter()
        while time.perf_counter() - t_burn < BURN_IN_S:
            wl.before_op()
            with tracer.span("op"):
                wl.op()
        phases["burn_in_s"] = time.perf_counter() - t_burn

        # -- 3. timed closed loop ------------------------------------------
        from pyspark import SparkContext

        jvm_pid = str(SparkContext._gateway.proc.pid)
        samples: list[dict] = []
        anchors = [_anchor_s()]
        loop0 = time.perf_counter()
        while ((sum(s["wall_s"] for s in samples) < seconds or len(samples) < MIN_OPS)
               and time.perf_counter() - loop0 < MAX_LOOP_S):
            i = len(samples)
            wl.before_op()
            tracer.op = i
            tracer.enabled = trace and i % 2 == 0
            for pid in (jvm_pid, "self"):
                _reset_peak_rss(pid)
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    wl.op()
                wall = time.perf_counter() - t
                peaks = [_rss_kb(jvm_pid) / 1024, _rss_kb("self") / 1024]
                written, files = wl.written()
                errors = check(wl)
            except Exception as exc:  # a failed operation is counted, not fatal
                wall = time.perf_counter() - t
                peaks = [0.0, 0.0]
                written = files = 0
                errors = [f"{type(exc).__name__}: {exc}".splitlines()[0]]
                traceback.print_exc(file=sys.stderr)
            samples.append({
                "wall_s": wall, "traced": tracer.enabled, "rows": wl.op_rows(),
                "in_bytes": wl.op_bytes(), "written": written, "files": files,
                "state_bytes": wl.state_bytes() if not errors else 0,
                "jvm_peak_mb": peaks[0], "py_peak_mb": peaks[1],
                "errors": errors})
            problems += [f"op {i}: {m}" for m in errors]
        tracer.enabled = False
        phases["loop_s"] = time.perf_counter() - loop0
        anchors.append(_anchor_s())

        host = {**_host(),
                "java": spark.sparkContext._jvm.System.getProperty("java.version")}
    finally:
        tracer.uninstall()
        t_stop = time.perf_counter()
        _stop(spark)
        phases["stop_s"] = time.perf_counter() - t_stop

    failed = sum(1 for s in samples if s["errors"])
    info = {"workload": workload, "seed": seed, "trace": trace, "host": host,
            "inputs": props, "samples": len(samples), "failed": failed,
            "ops_failed_frac": failed / len(samples), "problems": problems,
            "phases": phases,
            "op_walls": [round(s["wall_s"], 3) for s in samples],
            "jvm_peak_mb": [round(s["jvm_peak_mb"]) for s in samples],
            "anchor_s": anchors}
    if trace:
        from spans import event_log_metrics, per_layer_metrics

        tracer.self_times()
        events = event_log_metrics(log_dir)
        metrics = per_layer_metrics(tracer.spans, events, samples, session_s)
        spans_path = os.path.join(WORK, f"spans-{workload}-{seed}.json")
        tracer.dump(spans_path, events)
        info["spans"] = spans_path
        names = spec["per_layer"]
    else:
        ok = [s for s in samples if not s["errors"]] or samples
        walls = [s["wall_s"] for s in samples]
        metrics = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(walls),
            "rows_per_s": statistics.median(s["rows"] / s["wall_s"] for s in samples),
            "py_peak_rss_mb": max(s["py_peak_mb"] for s in samples),
            "bytes_written_per_input_byte": statistics.median(
                s["written"] / s["in_bytes"] for s in ok),
            "ops_ok_frac": 1 - failed / len(samples),
        }
        names = spec["end_to_end"]
    print("perfbench: " + json.dumps(info, default=str))
    return {
        "correct": not problems,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in names},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("drune_spark", "tools/check_oracle.py",
                           "__spark_entry__.py", "BENCHMARK.json")
               if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a drune_spark checkout (missing {missing}); "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(1, os.getcwd())

    def expired(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, expired)
    signal.alarm(DEADLINE_S)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
