"""Run one benchmark workload against whatsapp_vectordb_spark and print its
metrics.

    python3 perfbench/run.py --workload mutate_commit --seed 1 --seconds 28 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (and the span log is written under ``.perfbench/``). The
lines before it give each metric by name and unit, the workload-specific
figures and a CPU/disk canary. Every file the run writes lives in a fresh
directory under ``.scratch/`` that is removed on exit.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = (
    ("setup_s", "s"),
    ("query_mean_s", "s"),
    ("op_p50_s", "s"),
    ("work_per_s", "1/s"),
    ("recall_at_10", "ratio"),
    ("space_amp", "ratio"),
    ("retained_heap_mb", "MB"),
)
WORKLOAD_NAMES = ("mutate_commit", "chat_ingest")


def canary(work_dir: str) -> dict:
    """Evidence of host contention, never used to drop or re-run samples:
    the best of three timings of a fixed Python loop, and of an 8 MiB
    write with fsync."""
    cpu = []
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        cpu.append(time.perf_counter() - t)
    path = os.path.join(work_dir, "canary.bin")
    block = os.urandom(1 << 20)
    t = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(8):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    disk = time.perf_counter() - t
    os.remove(path)
    return {"cpu_s": min(cpu), "disk_8mib_s": disk}


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the client's own peak RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what a
    long-lived session keeps (cached blocks, status store), unlike peak
    RSS, which follows the collector's heap sizing."""
    import gc

    # Python first (py4j frees JVM objects only when their Python handles
    # are collected), then the JVM; the pauses let Spark's context cleaner
    # drop the broadcast and shuffle blocks whose references just died
    jvm = spark._jvm.java.lang
    for _ in range(3):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits on EOF on its
    stdin) and wait for it; its Python workers end with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: the smoke test's inputs")
    ap.add_argument("--corrupt", choices=("drop_row", "skip_commit"), default=None,
                    help="corrupt one checked result (smoke test of the checks)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "whatsapp_vectordb_spark")):
        print(f"no whatsapp_vectordb_spark package under {ROOT}", file=sys.stderr)
        return 2
    # the program, its Spark scratch and its Python workers all come from
    # this checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.makedirs(os.path.join(ROOT, ".scratch"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="perfbench-", dir=os.path.join(ROOT, ".scratch"))
    os.environ["SPARK_GRAFT_SCRATCH"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    work_dir = os.path.join(run_dir, "work")
    os.makedirs(work_dir)

    from perfbench.tracer import Tracer, per_layer_catalogue
    from perfbench.workloads import WORKLOADS, Run

    from whatsapp_vectordb_spark.session import get_spark

    spark = None
    try:
        canary_start = canary(work_dir)
        tracer = Tracer(counters=bool(args.trace), work_dir=work_dir)
        cpus = min(4, len(os.sched_getaffinity(0)))
        spark = tracer.call(
            "session.get_spark",
            get_spark,
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        run = Run(spark, tracer, work_dir, args.seed, args.seconds, args.size, args.corrupt)
        WORKLOADS[args.workload](run)
        e2e = dict(run.e2e)
        if tracer.window is not None:
            e2e["setup_s"] = tracer.window[0] - T0
        e2e["retained_heap_mb"] = retained_heap_mb(spark)
        run.detail["peak_rss_mb"] = peak_rss_mb(spark)
        canary_end = canary(work_dir)

        complete = tracer.window is not None and tracer.window[1] is not None and all(
            isinstance(e2e.get(n), float) and math.isfinite(e2e[n]) for n, _ in E2E
        )
        if args.trace and complete:
            per_layer = tracer.per_layer()
            metrics = {n: {"value": per_layer[n], "unit": u} for n, u in per_layer_catalogue()}
            out = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(out)
            print(f"spans: {out}")
        elif complete:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
        else:
            metrics = {}
        print("detail " + json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "window_s": tracer.window[1] - tracer.window[0] if complete else None,
            "e2e": e2e if complete else None,
            "fail_ratio": run.failed / max(run.attempted, 1),
            "failures": run.failures[:10],
            "canary": {"start": canary_start, "end": canary_end},
            **run.detail,
        }, default=str))
        for n, m in metrics.items():
            print(f"metric {n} = {m['value']} {m['unit']}")
        print(json.dumps({
            "correct": complete and run.failed == 0,
            "attempted": max(run.attempted, 1),
            "failed": run.failed if run.attempted else 1,
            "metrics": metrics,
        }), flush=True)
        return 0 if complete else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
