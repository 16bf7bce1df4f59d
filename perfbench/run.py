"""mtslake benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,incremental} \\
        --seed N --seconds S --trace {0,1} [--size {full,smoke}]

Run from the repository root; the engine is imported from the
``mtslake/`` package next to this directory. One Spark session on
``local[4]``; set-up, then a closed loop of the workload's ops for
``--seconds``, then every answer is checked against the persisted
uncompressed series. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``
(see BENCHMARK.json and design.json). Scratch data lives in
``.perfbench_work/`` and is removed; spans and result files are kept
in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "2g"
DEADLINE_S = 170  # a run must end within 180 s


def process_age_s() -> float:
    """Seconds since this process started (from /proc, clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the
    Spark JVM and its Python workers)."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # exited while listing
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def start_spark(work: str, partitions: int):
    # every scratch file stays under the run's work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # Python workers import mtslake from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("mtslake-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads every span's jobs back at the end
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "50000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def host_info(load_start: float) -> dict:
    return {
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": f"local[{CORES}]",
        "driver_memory": DRIVER_MEMORY,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "incremental"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    # a deadline or a kill still runs the clean-up below (stop Spark)
    signal.signal(signal.SIGALRM, lambda *_: sys.exit("perfbench: deadline"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    signal.alarm(DEADLINE_S)
    load_start = os.getloadavg()[0]

    # the engine under test is the checkout's own mtslake/
    sys.path.insert(1, ROOT)
    import mtslake

    if not os.path.abspath(mtslake.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: mtslake imported from {mtslake.__file__}, "
                 f"not from {ROOT}")
    import spans
    import summarize
    import workloads as W

    size = dict(W.SIZES[args.size])
    # days the incremental client can append: the warm-up's, and more
    # than the timed loop can use (a cycle and its dashboards take >5 s)
    size["append_days"] = 2 + math.ceil(args.seconds / 5)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    setup, warm, step = W.WORKLOADS[args.workload]

    spark = None
    try:
        spark = start_spark(work, W.PARTITIONS)
        session_s = process_age_s()
        tr = spans.Tracer(spark, enabled=bool(args.trace))
        ctx = W.Ctx(spark=spark, tr=tr, rng=random.Random(args.seed),
                    size=size, seed=args.seed, root=work)
        # set-up runs several times; setup_s counts the median one
        reps = []
        for _ in range(size["setup_reps"]):
            t = time.monotonic()
            with tr.span("setup"):
                setup(ctx)
            reps.append(time.monotonic() - t)
        t = time.monotonic()
        warm(ctx)
        warm_s = time.monotonic() - t
        setup_s = session_s + statistics.median(reps) + warm_s

        t_loop = time.monotonic()
        while time.monotonic() - t_loop < args.seconds:
            try:
                if step(ctx) is False:
                    break  # incremental: generated days used up
            except Exception:  # noqa: BLE001 — an op that raised fails
                traceback.print_exc()
                ctx.ops.append(W.Op("error", 0.0, {}, ok=False))
                break
        loop_s = time.monotonic() - t_loop
        W.check_all(ctx, args.workload)
        failed = sum(1 for o in ctx.ops if not o.ok)
        check_s = time.monotonic() - t_loop - loop_s

        e2e = W.e2e_metrics(ctx, args.workload)
        if args.trace:
            W.census(ctx, args.workload)
            tr.attach_engine_counts()
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = tree_peak_rss_mb()
        named = W.named_metrics(ctx, args.workload, e2e)
        named["failed_op_ratio"] = (failed / len(ctx.ops), "ratio")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # if no other run is using it
        except OSError:
            pass

    design = summarize.load_design()
    units = design["end_to_end_units"]
    host = host_info(load_start)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "seconds": args.seconds, "host": host,
        "phases_s": {"session_start": session_s, "setup_reps": reps,
                     "warm": warm_s, "loop": loop_s, "checks": check_s,
                     "process": process_age_s()},
        "ops": {k: sum(1 for o in ctx.ops if o.kind == k)
                for k in sorted({o.kind for o in ctx.ops})},
        "end_to_end": e2e,
        "named": {k: v[0] for k, v in named.items()},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out, f"result-{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)
    print("host " + json.dumps(host))
    print("phases_s " + json.dumps(result["phases_s"]))
    for name, value in sorted(e2e.items()):
        print(f"metric {name} {value:.6g} {units[name]}")
    for name, (value, unit) in sorted(named.items()):
        print(f"metric {name} {value:.6g} {unit}")
    if args.trace:
        tr.write(os.path.join(out, f"spans-{tag}.json"), result)
        metrics = spans.layer_metrics(tr.spans)
        summarize.print_summary(args.workload, metrics, out, args.seed)
        layer_units = {m["name"]: m["unit"] for m in design["per_layer"]}
        metrics = {k: {"value": v, "unit": layer_units[k]}
                   for k, v in metrics.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ctx.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
