"""Benchmark for the transcript quality-filter engine.

    python3 perfbench/run.py --workload chat_noop --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  Workloads: ``chat_noop`` and
``dedup_docs`` (see ``perfbench/NOTES.md``).

With ``--trace 0`` the run reports the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` a separate traced run reports the
per-layer metrics and writes its spans to ``.perfbench/traces/``.  Every
metric is printed as ``name = value unit``, preceded by one JSON line of
run details (host size, samples, checks, workload-specific end-to-end
figures).  The last stdout line is the machine-readable result.  Scratch
files live under ``.perfbench/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"

# End-to-end figures that only some workloads have, or that are 0 on a
# correct run; printed with the gated metrics but not gated.
EXTRA_UNITS = {
    "failed_frac": "fraction",
    "run_s_max": "s",
    "keep_f1": "fraction",
    "scrub_exact_frac": "fraction",
}


def process_start() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        started_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - started_ticks / os.sysconf("SC_CLK_TCK"))


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def sandbox(work: str) -> None:
    """Point every temp, spill and checkpoint location into ``work``."""
    for sub in ("tmp", "local", "checkpoint"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(work, "checkpoint"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            # launcher and driver JVM alike: no hsperfdata outside the checkout
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, cores: int, trace: bool):
    from data_caterer_spark.config import get_spark

    from workloads import INPUT_FILES

    conf = {
        "spark.sql.files.minPartitionNum": str(INPUT_FILES),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap keeps the JVM's share of peak RSS from
        # depending on when G1 happened to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }
    if trace:
        # the status store otherwise records a task start only if 100 ms
        # have passed since the stage's last update, so tasks that start
        # together read as not running until one of them ends
        conf["spark.ui.liveUpdate.period"] = "0"
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM, which takes its Python
    workers down with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def timed_runs(spark, wl, seconds: float) -> tuple[list[float], list]:
    """``wl.warmup_runs`` untimed runs, then complete runs back to back
    until ``seconds`` have passed (at least one), each on an empty Spark
    cache.  Every run's output is checked."""
    from workloads import Check

    times, checks = [], []
    t_end = None
    rep = -wl.warmup_runs
    while t_end is None or not times or time.perf_counter() < t_end:
        if rep == 0:
            t_end = time.perf_counter() + seconds
        spark.catalog.clearCache()
        t = time.perf_counter()
        try:
            checks.append(wl.run_once(spark, rep))
        except Exception:
            traceback.print_exc()
            checks.append(Check(f"run-{rep}", False, "raised"))
        if rep >= 0:
            times.append(time.perf_counter() - t)
        rep += 1
    return times, checks


def main() -> int:
    t_process = process_start()
    # SIGTERM unwinds like an exception, so Spark is stopped and the
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Spark's JVM and Python workers inherit fd 1: point it at stderr so
    # that every stdout line is ours.
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)

    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import data_caterer_spark  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: not a source checkout at {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import RssSampler, SlotSampler, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sandbox(work)
    spark = None
    rss = RssSampler()
    times: list[float] = []
    try:
        wl = WORKLOADS[args.workload](args.seed, work, cores)
        t0 = time.time()
        wl.synthesize()
        synth_s = time.time() - t0

        rss.start()
        cpu_at_start = cpu_times()
        spark = start_session(work, cores, bool(args.trace))
        t_session = time.time()
        checks = wl.first_execution(spark)
        setup_s = time.time() - t_process - synth_s
        first_execution_s = time.time() - t_session

        if args.trace:
            tracer = Tracer()
            sampler = SlotSampler(spark.sparkContext)
            sampler.start()
            try:
                metrics, traced_checks = wl.traced(spark, tracer, sampler)
            finally:
                sampler.stop()
            checks += traced_checks
            tracer.write(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            times, timed_checks = timed_runs(spark, wl, args.seconds)
            checks += timed_checks
            run_s = statistics.median(times)
            metrics = {
                "rows_per_s": wl.rows / run_s,
                "run_s": run_s,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / 2**20,
            }
        rss.stop()
        cpu = [b - a for a, b in zip(cpu_at_start, cpu_times())]
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    unknown = set(metrics) - set(declared)
    if unknown:
        print(f"perfbench: metrics not declared in BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
        return 1
    # a layer the workload never runs did no work: it reports 0
    metrics = {name: metrics.get(name, 0.0) for name in declared}
    failed = [c for c in checks if not c.ok]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "host_memory_gb": round(host_memory_gb(), 2),
        "driver_memory": DRIVER_MEMORY,
        "rows": wl.rows,
        "synth_s": synth_s,
        "first_execution_s": first_execution_s,
        "run_s_samples": times,
        "run_s_max": max(times, default=None),
        "peak_rss_mb_by_command": {k: round(v / 2**20) for k, v in rss.peak_by_command.items()},
        # CPU time the hypervisor gave to other guests while this ran: the
        # main source of run-to-run spread on a shared host
        "host_steal_frac": cpu[7] / max(1, sum(cpu)),
        "failed_frac": len(failed) / len(checks),
        **wl.extra,
        "checks": {c.name: c.ok for c in checks},
        "failures": {c.name: c.detail for c in failed},
    }
    print(json.dumps(detail), file=out)
    figures = [(k, v, declared[k]) for k, v in metrics.items()]
    if not args.trace:
        figures += [(k, detail[k], u) for k, u in EXTRA_UNITS.items() if detail.get(k) is not None]
    for name, value, unit in figures:
        print(f"{name} = {value:.6g} {unit}", file=out)
    result = {
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
