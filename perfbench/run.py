"""Run one benchmark workload against burla_spark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The program is imported from the source
tree; nothing is installed. One driver process runs ``local[nproc]``
and a closed loop with one client for ``--seconds`` (at least one full
round). ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
interleaves untraced and traced rounds and reports the per-layer
metrics plus the tracing overhead between the two. Earlier stdout lines
carry the environment and the full report; the last line is
``{"correct", "attempted", "failed", "metrics"}``.

``--workload all`` runs every workload in turn, each in its own process.
Every run works in a private directory under ``.perfbench/`` that is
removed when it ends; traced runs leave their spans there as JSON lines.
Before a run exits, every process it started, and every process those
started, has been stopped and waited for.
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
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.stats import tail  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import SF_DIR, WORKLOADS, Bench  # noqa: E402

WORK_DIR = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0
MAX_DRIVER_MEM_MB = 4096
PR_SET_CHILD_SUBREAPER = 36


def process_start() -> float:
    """Wall-clock time this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pin_environment(run_dir: str) -> dict:
    """Set the knobs the program reads from the environment, before it
    is imported: task slots, driver heap, and every scratch directory
    inside this run's own directory."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = min(MAX_DRIVER_MEM_MB, (ram >> 20) // 4)
    dirs = {name: os.path.join(run_dir, name) for name in ("local", "warehouse", "jobs", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    pythonpath = os.environ.get("PYTHONPATH")
    # -XX:-UsePerfData: otherwise each JVM writes a perf-data file outside the run directory.
    launcher_opts = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ.update(
        SPARK_LAUNCHER_OPTS=f"{launcher_opts} -XX:-UsePerfData".strip(),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        TMPDIR=dirs["tmp"],
        PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = None
    return {"cpus": cpus, "ram_bytes": ram, "driver_mem_mb": mem_mb, "dirs": dirs}


def _gateway_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def adopt_orphans() -> None:
    """Become the parent of every descendant orphaned during the run
    (Python workers outliving the JVM that forked them), so that
    ``reap_descendants`` can reach them all."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # gone meanwhile
        if ppid == me:
            out.append(int(entry))
    return out


def reap_descendants() -> None:
    """Kill every process still left below this one and wait for each.
    A killed child's own children are handed to this process before
    the child can be reaped, so the loop ends only when none is left."""
    while True:
        for pid in _children():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def arm_watchdog(t_start: float) -> None:
    """Kill every child and exit non-zero if the run overstays its deadline."""

    def fire():
        sys.stderr.write(f"perfbench: run exceeded {DEADLINE_S:.0f} s, aborting\n")
        sys.stderr.flush()
        reap_descendants()
        os._exit(3)

    timer = threading.Timer(max(1.0, DEADLINE_S - (time.time() - t_start)), fire)
    timer.daemon = True
    timer.start()


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    proc = _gateway_proc()
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def op_dispatch(op) -> float | None:
    """Call to the first user-function start (rpm workloads, from the
    function's own timestamps) or to the first Spark task launch."""
    if "dispatch_s" in op.facts:
        return op.facts["dispatch_s"]
    launched = op.spark.get("first_task_launch")
    return None if launched is None else launched - op.t_call


def end_to_end(wl, ops, setup_s: float, rss_mb: float) -> dict:
    """Every end-to-end metric named for the workload: name -> (value, unit)."""
    timed = [op for op in ops if not op.traced]
    good = [op for op in timed if op.ok]
    if not good:
        raise RuntimeError("no untraced op succeeded; no latency to report")
    walls = [op.wall_s for op in good]
    dispatch = [d for d in map(op_dispatch, good) if d is not None]
    out = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "dispatch_s": (statistics.median(dispatch), "s"),
        "driver_rss_peak_mb": (rss_mb, "MB"),
        "error_rate": ((len(timed) - len(good)) / len(timed), "ratio"),
    }
    t = tail(walls)
    if t is not None:
        out["op_tail_s"] = (t["value"], "s")
        out["op_tail_percentile"] = (t["percentile"], "%")
        out["op_tail_samples"] = (t["samples"], "count")
    out.update(wl.report(good))
    return out


def environment(args, env: dict, spark) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": env["cpus"],
        "ram_gb": round(env["ram_bytes"] / 2**30, 2),
        "driver_mem_mb": env["driver_mem_mb"],
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "sf_dir": SF_DIR,
    }


def measure(args, run_dir: str, t_proc: float) -> list[dict]:
    env = pin_environment(run_dir)
    if args.workload == "etl_query_mix" and not os.path.isdir(SF_DIR):
        raise SystemExit(f"perfbench: {SF_DIR} is missing; etl_query_mix needs it")
    import burla_spark

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        layers.instrument(tracer)
    t_boot = time.time()
    spark = burla_spark.get_spark(
        app_name="perfbench",
        master=f"local[{env['cpus']}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.burla.jobJournalDir": env["dirs"]["jobs"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={env['dirs']['tmp']} -XX:-UsePerfData",
        },
    )
    boot_s = time.time() - t_boot
    try:
        spark.sparkContext.setLogLevel("ERROR")
        bench = Bench(spark, args.seed, env["cpus"], run_dir, tracer)
        wl = WORKLOADS[args.workload](bench)
        t_prep = time.time()
        wl.prepare()
        prep_s = time.time() - t_prep  # the benchmark's own work, not set-up
        t_warm = time.time()
        if tracer is not None:
            with tracer.span("session.warmup"):
                wl.warm_up()
            tracer.unpatch()
        else:
            wl.warm_up()
        t_ready = time.time()
        wl.prime()  # after set-up ends: not part of setup_s
        lines = [{"env": environment(args, env, spark)}]

        t0 = time.time()
        rounds = 0
        while True:
            # Traced runs go untraced, traced, traced, untraced, ... in
            # whole groups of four, so a trend across the run (the JIT
            # still warming) weighs on both sides of the overhead alike.
            wl.run_round(rounds, traced=bool(args.trace) and rounds % 4 in (1, 2))
            rounds += 1
            if time.time() - t0 >= args.seconds and (not args.trace or rounds % 4 == 0):
                break
        bench.settle()
        rss_mb = vm_hwm_mb()
        proc = _gateway_proc()
        jvm_rss_mb = vm_hwm_mb(proc.pid) if proc is not None else 0.0

        ops = bench.ops
        report = end_to_end(wl, ops, t_ready - t_proc - prep_s, rss_mb)
        lines.append({
            "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            "ops": len(ops),
            "op_walls_s": [round(op.wall_s, 4) for op in ops],
            "rounds": rounds,
            "errors": [f"{op.name}: {op.error}" for op in ops if not op.ok],
        })
        if tracer is None:
            metrics = {name: report[name] for name, _ in layers.END_TO_END}
        else:
            setup = {
                "session.boot_s": boot_s,
                "session.warmup_s": t_ready - t_warm,
                "session.jvm_rss_peak_mb": jvm_rss_mb,
            }
            values = layers.per_layer(ops, tracer.spans, setup, env["cpus"])
            units = dict(layers.PER_LAYER)
            metrics = {name: (values[name], units[name]) for name, _ in layers.PER_LAYER}
            spans_path = os.path.join(WORK_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(spans_path)
            lines.append({"spans": os.path.relpath(spans_path, ROOT)})
        failed = sum(not op.ok for op in ops)
        lines.append({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        })
        return lines
    finally:
        stop_session(spark)


def run_one(args) -> int:
    t_proc = process_start()
    adopt_orphans()
    arm_watchdog(t_proc)
    # A terminated run still stops its children on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.makedirs(WORK_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK_DIR)
    try:
        lines = measure(args, run_dir, t_proc)
    finally:
        reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(json.dumps(line), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in its own process; the last line merges their
    results with metrics prefixed by workload name."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        sys.stdout.write(out.stdout)
        if out.returncode != 0:
            print(f"perfbench: {name} exited with {out.returncode}", file=sys.stderr)
            return out.returncode
        last = json.loads(out.stdout.strip().splitlines()[-1])
        merged["correct"] = merged["correct"] and last["correct"]
        merged["attempted"] += last["attempted"]
        merged["failed"] += last["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(merged), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
