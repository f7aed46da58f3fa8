"""Benchmark of the link-graph engine, driven through its public API.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see workloads.py): local_tails, synth_supersteps.
Each run is a fresh process: it writes the seed's inputs, starts the JVM
and a Spark session on local[<cores>] (the set-up, timed), makes one
untimed warm-up pass of the workload, then timed passes until ``--seconds``
have gone by (at least one), checks every pass's outputs against an
independent reference, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` makes one traced pass after the warm-up and reports the
per-layer metrics built from its spans (see spans.py and layers.py); the
spans are written to ``.bench_work/spans/`` as JSON lines when the run
ends.

Everything the run writes lives under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def use_work_dir(work: str) -> None:
    """Point every temporary file of Python, Spark and the JVMs into ``work``
    (no JVM perf-data files either, which would land in /tmp)."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: str, cpus: int):
    """``get_spark`` on local[cpus] plus one trivial job."""
    from louvain_fast_move_cuda_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).count()
    return spark


def release(spark, pass_dir: str) -> None:
    """Drop what a checked pass left behind (cached and locally checkpointed
    blocks, checkpoint files, garbage), so every pass starts from the same
    state."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    shutil.rmtree(pass_dir, ignore_errors=True)
    # collect the pass's garbage now rather than inside the next pass
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import louvain_fast_move_cuda_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        log(f"engine package not importable from {ROOT}: {exc}")
        return 2
    import layers
    from spans import Tracer
    from workloads import WORKLOADS, Pass

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]()

    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{os.getpid()}")
    use_work_dir(work)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = None
    try:
        info = {"workload": wl.name, "seed": args.seed, "cores": cpus}
        info.update(wl.prepare(args.seed, os.path.join(work, "data")))
        log("inputs written")

        # set-up: what every user process pays, the JVM launch included
        t0 = time.perf_counter()
        spark = start_session(work, cpus)
        setup_s = time.perf_counter() - t0
        npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def one_pass(tracer, tag):
            p = Pass(tracer, log)
            t0 = time.perf_counter()
            wl.run_pass(spark, p, os.path.join(work, f"pass-{tag}"), npart)
            p.t["run"] = time.perf_counter() - t0
            log(f"pass {tag}: " + " ".join(f"{k}={v:.3f}" for k, v in p.t.items()))
            return p

        # warm-up: the first pass of a JVM pays class loading, JIT and the
        # first compilation of every query plan; it is checked, not timed
        warm = one_pass(Tracer(spark, enabled=False), "warm")
        wl.check(warm)
        release(spark, os.path.join(work, "pass-warm"))
        log("warm-up checked")

        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            layers.instrument(tracer, spark)
        passes, timed = [], 0.0
        while True:
            p = one_pass(tracer, len(passes))
            passes.append(p)
            timed += p.t["run"]
            if args.trace:
                break
            wl.check(p)
            release(spark, os.path.join(work, f"pass-{len(passes) - 1}"))
            log(f"pass {len(passes) - 1} checked")
            if timed >= args.seconds:
                break
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        tracer.unwrap()
        if args.trace:
            wl.check(passes[0])

        for p in passes:
            info.update(p.info)
        info["passes"] = len(passes)
        if passes[0].louvain:
            info["louvain_levels"] = passes[0].louvain[-1].levels
            info["louvain_rounds"] = passes[0].rounds()
        if args.trace:
            passes[0].ops.append("trace")  # the traced run's own accounting check
            metrics = layers.per_layer(tracer, passes[0], warm, info, setup_s, rss_mb, bench_dir, args)
            tracer.dump(layers.spans_path(bench_dir, args))
        else:
            metrics = layers.end_to_end(passes, setup_s)
        print(json.dumps({"info": info}), flush=True)
        checked = [warm] + passes
        attempted = sum(len(p.ops) for p in checked)
        failed = sum(1 for p in checked for k in p.ops if k in p.failed)
        missing = [k for k, v in metrics.items() if v["value"] is None]
        if missing:
            log(f"metrics not measured: {missing}")
            failed = max(failed, 1)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
        }), flush=True)
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")


if __name__ == "__main__":
    sys.exit(main())
