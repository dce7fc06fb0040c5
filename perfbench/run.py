"""Run one benchmark workload for one seed.

    python3 perfbench/run.py --workload search_warm --seed 1 --seconds 10 --trace 0

Run from the root of a quickwit_spark checkout. Prints the workload's
own named metrics with units, one line each, then as the last line a
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
BENCH_DIR = ".perfbench"
DRIVER_MEMORY = "2g"

END_TO_END = {
    "op_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "index_bytes_per_text_byte": "ratio",
}


def pin_environment(work: str) -> dict:
    """One Spark core per host CPU, an explicit driver heap, one Arrow
    thread per Python worker, the default catalog backend, and every
    scratch file under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("QUICKWIT_SPARK_CATALOG", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "OMP_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "pyspark-shell"
        ),
    })
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "OMP_NUM_THREADS": 1,
        "QUICKWIT_SPARK_CATALOG": None,
    }


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (the JVM, the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from perfbench.harness import process_tree

    children = process_tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    alive = children
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "quickwit_spark", "__init__.py")):
        print(
            f"perfbench: no quickwit_spark package under {ROOT}; "
            "run from the root of a checkout", file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import layers
    from perfbench.harness import RssSampler, Tracer, cpu_stat, steal_fraction
    from perfbench.workloads import WORKLOADS, Run, probe, trace_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, BENCH_DIR, f"work-{os.getpid()}")
    env = pin_environment(work)
    env.update(git_sha=git_sha(), workload=args.workload, seed=args.seed,
               seconds=args.seconds, trace=args.trace)
    stat0 = cpu_stat()
    rss = RssSampler().start()
    tracer = Tracer()
    saved = layers.install(tracer) if args.trace else []
    spark = None
    try:
        from quickwit_spark import get_spark

        spark = get_spark(app_name="perfbench")
        run = Run(spark, work, args.seed, args.seconds, bool(args.trace), tracer)
        wl = WORKLOADS[args.workload](run)
        tracer.enabled = run.trace  # setup spans feed layers no window op reached
        wl.setup()
        tracer.enabled = False
        setup_s = time.perf_counter() - PROCESS_START
        wl.window()
        peak = rss.stop()  # memory of the workload, not of its checks
        wl.verify()
        wl.finish()
        if run.trace:
            probe(run, wl.index_dir, wl.rows, wl.mix, wl.n_splits)
            metrics = trace_metrics(run)
            units = layers.LAYER_UNITS
        else:
            metrics = wl.end_to_end()
            metrics["setup_s"] = setup_s
            units = END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        layers.uninstall(saved)
        shutil.rmtree(work, ignore_errors=True)
    if not run.trace:
        metrics["peak_rss_mb"] = peak / 2**20
    env["steal_frac"] = steal_fraction(stat0, cpu_stat())
    env["wall_s"] = time.perf_counter() - PROCESS_START

    tally = run.tally
    run.put("setup_s", setup_s, "s")
    run.put("error_rate", tally.error_rate, "fraction")
    run.put("peak_rss_mb", peak / 2**20, "MB")
    print("env " + json.dumps(env, sort_keys=True))
    for name, (value, unit) in run.report.items():
        print(f"{name} {value:.6g} {unit}")
    for reason in tally.reasons:
        print(f"FAILED {reason}")
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": unit}
            for name, unit in units.items()
        },
    }
    out_dir = os.path.join(ROOT, BENCH_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({
            "env": env, "report": run.report, "result": result,
            "op_times": run.op_times, "traced_op_times": run.traced_op_times,
            "spans": [vars(s) for s in tracer.spans],
        }, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
