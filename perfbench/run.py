"""Benchmark entry point.

    python3 perfbench/run.py --workload nsl_train_score --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One process runs one workload on
``local[<cores>]`` through ``nsl_kdd_spark.session.get_session``:
set-up (session start, inputs generated from the seed, workload
set-up, untimed warm-up units), then whole units of work until
``--seconds`` have passed (at least one unit), then the output checks.
The last line of standard output is one JSON object: with ``--trace 0``
it holds the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of one traced unit.
Lines before it, prefixed ``#``, give host facts and the workload's
own metric names. ``--smoke`` runs every workload at tiny sizes with
tracing and every check, in one process.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _fail_early(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _session(work: str, cores: int, trace: bool):
    from nsl_kdd_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, so peak RSS does not depend on when G1
        # happened to grow it; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            " -XX:-UsePerfData",
    }
    if trace:
        # keep every job of the traced region in the UI store
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_session(app_name="perfbench", master=f"local[{cores}]",
                        shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_workload(wl, seconds: float, trace: bool, overhead: bool) -> dict:
    """Set up, measure and check one workload; returns what to print."""
    from spans import Tracer

    ctx = wl.ctx
    sc = ctx.spark.sparkContext
    gen_s = []
    for i in range(SETUP_REPS):
        d = os.path.join(ctx.work, f"{wl.name}-inputs-{i}")
        t = time.perf_counter()
        wl.generate(d)
        gen_s.append(time.perf_counter() - t)
        if i + 1 < SETUP_REPS:
            shutil.rmtree(d)
    t = time.perf_counter()
    wl.prepare()
    wl.warm_up()
    prepare_s = time.perf_counter() - t

    layers = {}
    if not trace:
        off = Tracer(sc, enabled=False)
        t0 = time.perf_counter()
        while True:
            wl.unit(off)
            if time.perf_counter() - t0 >= seconds:
                break
    else:
        from workloads import PER_LAYER

        plain = None
        if overhead:
            if not wl.warm_units:
                # compare two warm units, not a cold one with a warm one
                wl.unit(Tracer(sc, enabled=False))
            # adjacent units, untraced then traced (JIT drift makes the
            # second one faster, so this understates the overhead)
            plain = wl.unit(Tracer(sc, enabled=False))
        tracer = Tracer(sc)
        with tracer.window("session"):
            wall = wl.unit(tracer)
        stats = tracer.collect()
        sess = stats["session"]
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update({
            "session.jobs": sess.jobs, "session.tasks": sess.tasks,
            "session.task_s": sess.task_s, "session.gc_s": sess.gc_s,
            "session.shuffle_bytes": sess.shuffle_bytes,
            "session.spill_bytes": sess.spill_bytes,
            "session.idle_core_frac": 1.0 - sess.task_s / (wall * ctx.cores),
        })
        layers.update(wl.layers(stats))
        if plain is not None:
            layers["trace.overhead_ms"] = (wall - plain) * 1000.0
    wl.check()
    return {"gen_s": statistics.median(gen_s), "prepare_s": prepare_s, "layers": layers}


def _result_line(wl, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": not wl.problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="every workload, tiny sizes, traced, in one process")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nsl_kdd_spark", "session.py")):
        return _fail_early(f"no nsl_kdd_spark package under {ROOT}; "
                           "run from the root of a full checkout")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import host
    import workloads

    names = list(workloads.WORKLOADS) if args.smoke else [args.workload]
    if None in names or any(n not in workloads.WORKLOADS for n in names):
        return _fail_early(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    sizes = workloads.SMOKE if args.smoke else workloads.FULL
    trace = args.smoke or args.trace == 1

    # on SIGTERM still stop the JVM and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    os.makedirs(work)
    # PySpark, the JVM and Spark's scratch space all stay inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    cpu0 = host.cpu_times()
    spark = None
    try:
        cores = host.cores()
        spark = _session(work, cores, trace)
        session_s = time.perf_counter() - T_START
        facts = host.facts(spark, args.seed)
        ok = True
        for name in names:
            wl = workloads.WORKLOADS[name](
                workloads.Ctx(spark, work, args.seed, sizes, cores))
            out = run_workload(wl, 0.0 if args.smoke else args.seconds, trace,
                               overhead=not args.smoke)
            if trace:
                metrics = {k: (v, workloads.PER_LAYER[k]) for k, v in out["layers"].items()}
            else:
                rss = host.vm_hwm_mb() + host.vm_hwm_mb(host.jvm_pid(spark))
                metrics = {
                    "setup_s": (session_s + out["gen_s"] + out["prepare_s"], "s"),
                    **{k: (v, workloads.END_TO_END[k][0])
                       for k, v in wl.end_to_end().items()},
                    "peak_rss_mb": (rss, "MB"),
                }
            print(f"# {name} setup session_s {session_s:.3f} gen_s {out['gen_s']:.3f} "
                  f"prepare_s {out['prepare_s']:.3f} (warm-up units {wl.warm_units})")
            for label, value, unit, n in wl.named():
                print(f"# {name} {label} {value:.6g} {unit} (n={n})")
            print(f"# {name} fail_frac {wl.failed / max(1, wl.attempted):.6g} "
                  f"({wl.failed}/{wl.attempted})")
            for problem in wl.problems:
                print(f"# {name} problem: {problem}")
            ok = ok and not wl.problems
            facts["steal_pct"] = round(host.steal_pct(cpu0, host.cpu_times()), 3)
            print("# host " + json.dumps(facts))
            print(_result_line(wl, metrics), flush=True)
        return 0 if ok or not args.smoke else 1
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
