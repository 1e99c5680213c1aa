"""Layered CDC ingest benchmark: one run of one workload.

    python3 perfbench/run.py --workload tail_poll_cow --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is its own process with a fresh
Spark session (local mode, one task slot per CPU this process may use,
the program's default session settings) and a fresh warehouse under
``.perfbench_work/`` in the checkout; inputs are generated from ``--seed``
and cached there. Prints detail lines, then as the LAST line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(a separate, instrumented run; see ``tracing.py``).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "epoch_p50_s": "s",
    "lookup_p50_s": "s",
    "scan_rows_per_s": "1/s",
    "stored_bytes_per_live_byte": "ratio",
}


def host_window() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_ticks": cpu,
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor took from this VM between two stamps
    (the 8th /proc/stat cpu field)."""
    d = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return round(d[7] / max(sum(d), 1), 4)


def isolate_scratch(run_dir: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        x for x in (os.environ.get("SPARK_SUBMIT_OPTS", ""),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if x
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test comes from the checkout this file sits in
    sys.path.insert(0, ROOT)
    import relational_data_loader_spark  # noqa: F401  (fails fast without it)

    from workloads import SETUP_REPS, WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]

    window = {"start": host_window()}
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate_scratch(run_dir)
    spark = None
    try:
        # input generation (cached by seed and make-up) is not set-up time
        t = time.perf_counter()
        bench = Bench(None, workload, run_dir, os.path.join(WORK, "logs"), args.seed)
        gen_s = time.perf_counter() - t

        from relational_data_loader_spark.session import get_spark

        extra = {}
        if args.trace:
            event_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(event_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t = time.perf_counter()
        spark = get_spark(
            "perfbench", master=f"local[{window['start']['nproc']}]", extra_conf=extra
        )
        session_start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_PROCESS - gen_s
        bench.spark = spark
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install(spark)
            bench.tracer = tracer

        # set-up: the starting-table load SETUP_REPS times (fresh warehouse
        # each, the last one kept), then one untimed warm-up pass
        rep_s = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            table = bench.load_starting_table(i)
            rep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        bench.warm_up(table)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(rep_s) + warm_s

        bench.measure(table, args.seconds)

        bench.check(table)
        e2e = bench.end_to_end()
        e2e["setup_s"] = setup_s
        peak_rss_mb = jvm_peak_rss_mb(spark)
        layers = None
        if tracer is not None:
            from layers import manifest_epochs

            epoch_facts = manifest_epochs(bench)
        stop_spark(spark)
        spark = None
        if tracer is not None:
            from layers import layer_metrics

            tracer.uninstall()
            layers = layer_metrics(bench, tracer, event_dir, epoch_facts)
            layers["session.start_s"] = session_start_s
            layers["jvm.peak_rss_mb"] = peak_rss_mb
            layers.update({f"traced.{k}": v for k, v in e2e.items()
                           if k in ("epoch_p50_s", "lookup_p50_s", "events_per_s")})
        bench.oracle.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    window["end"] = host_window()
    window["steal_share"] = steal_share(window["start"], window["end"])
    for stamp in ("start", "end"):
        del window[stamp]["cpu_ticks"]
    ops = bench.ops
    print(json.dumps({
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "rounds": bench.rounds, "load_reps_s": [round(x, 4) for x in rep_s],
        "warm_s": round(warm_s, 4),
        "session_s": round(session_s, 4), "gen_s": round(gen_s, 4),
        "peak_rss_mb": round(peak_rss_mb, 1),
        "ops": {"attempted": ops.attempted, "failed": ops.failed},
        "errors": ops.errors[:20], "host": window,
    }))
    if layers is None:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in UNITS}
    else:
        from layers import LAYER_UNITS

        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in LAYER_UNITS.items()}
    attempted = sum(ops.attempted.values())
    failed = sum(ops.failed.values())
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
