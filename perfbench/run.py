"""Benchmark entry point.

    python3 perfbench/run.py --workload trail_query --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the workload up
SETUP_REPS times (each a fresh SparkContext), warms the operation kinds,
then runs the operation mix in a closed loop with one client for at least
``--seconds`` seconds, stopping at the end of a mix cycle so every run
holds whole cycles. Every answer is checked. The last line of standard
output is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. A traced run traces every other
operation of each kind; the latency difference between the two halves is
its reported tracing overhead. Each run writes its operation records
(and, traced, its spans) to ``.perfbench/run-<workload>-<seed>-trace<t>.json``.

Runs on ``local[4]`` with the program's own session factory; scratch data
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
MASTER = "local[4]"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["trail_query", "neardup_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Before the JVM starts: Python workers must import the package and
    this benchmark, and Spark's scratch space stays in the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # one shuffle partition per core of local[4]; the factory's default
    # (32) is sized for a cluster
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "4"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # the gateway's handshake file, worker temp files
    # no JVM perf-data file either: it would go to /tmp whatever tmpdir says
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {java_opts} pyspark-shell")


def start_session():
    from traildb_spark.session import get_spark

    spark = get_spark("perfbench", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the SparkContext, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_op(wl, tracer, op, op_id, records, traced, check=True):
    ok, dt = False, None
    try:
        t0 = time.perf_counter()
        with tracer.op(op_id, op["kind"]):
            answer = wl.run(op)
        dt = time.perf_counter() - t0
        ok = not check or bool(wl.check(op, answer))
        wl.after(op, answer)
    except Exception:  # a failed operation is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
    if not ok:
        print(f"FAILED {op}", file=sys.stderr)
    records.append({"id": op_id, "kind": op["kind"], "s": dt, "ok": ok, "traced": traced,
                    "items": op.get("items", 0)})


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(os.path.join(OUT, "work"), ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    # import the benchmark as a package, not its files as top-level modules
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".")
                            != os.path.dirname(os.path.abspath(__file__))]
    from perfbench import gen, metrics
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, warm_workers

    phases = {"start": time.perf_counter()}
    inputs = gen.GENERATORS[args.workload](args.seed)
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](inputs, work, tracer)
    wl.prepare()
    phases["inputs"] = time.perf_counter()

    # set-up, SETUP_REPS times: session start through ready to serve
    setup_s, session_s, spark = [], [], None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            session_s.append(time.perf_counter() - t0)
            tracer.sc = spark.sparkContext
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)
            wl.check_setup()
        phases["setup"] = time.perf_counter()

        # warm-up: each kind the workload warms, once (plan compilation,
        # JIT, worker imports); neither timed into the metrics nor
        # answer-checked, but an operation that raises counts as failed
        tracer.enabled = False
        warm_workers(spark)
        warm: list[dict] = []
        for op in wl.warm_ops():
            run_op(wl, tracer, op, -1 - len(warm), warm, False, check=False)
        warm_kinds = {r["kind"] for r in warm}
        phases["warm-up"] = time.perf_counter()

        records: list[dict] = []
        # a traced run traces every other operation of each kind, half of
        # the kinds starting traced, so traced and untraced samples
        # interleave in time and neither half runs closer to the warm-up
        runs = {k: j % 2 for j, k in enumerate(sorted({op["kind"] for op in wl.cycle(0)}))}
        n, t_start = 1, time.perf_counter()
        while True:
            for op in wl.cycle(n):
                tracer.enabled = tracer.mode and runs[op["kind"]] % 2 == 0
                runs[op["kind"]] += 1
                run_op(wl, tracer, op, len(records), records, tracer.enabled)
            n += 1
            # whole cycles; two or more when traced, so that every kind has
            # a traced and an untraced sample
            done = time.perf_counter() - t_start >= args.seconds
            if done and (not args.trace or n > 2):
                break
        phases["measure"] = time.perf_counter()
        tracer.enabled = tracer.mode
        probes: list[dict] = []
        for op in wl.probe_ops() if tracer.mode else ():
            run_op(wl, tracer, op, len(records) + len(probes), probes, True)
        counters = tracer.spark_counters() if tracer.mode else {}
    finally:
        if spark is not None:
            stop_jvm(spark)
    phases["stop"] = time.perf_counter()

    all_ops = warm + records + probes
    attempted, failed = len(all_ops), sum(not r["ok"] for r in all_ops)
    plain = [r for r in records if not r["traced"]]
    sizes = {"events": len(inputs.get("events", ()))}
    report = metrics.workload_metrics(plain, wl.samples, attempted, failed, sizes)
    if args.trace:
        result = metrics.layer_metrics(tracer, counters, [r for r in records if r["traced"]],
                                       plain, probes, wl.samples, session_s, warm_kinds)
        result.update(report)
        names = [m[0] for m in metrics.PER_LAYER]
    else:
        result = metrics.end_to_end(plain, setup_s)
        report.update(result)
        names = [m[0] for m in metrics.END_TO_END]
    shutil.rmtree(work, ignore_errors=True)
    tracer.write(os.path.join(OUT, f"run-{args.workload}-{args.seed}-trace{args.trace}.json"),
                 {"self_s": tracer.self_times(), "records": all_ops,
                  "setup_s": setup_s, "session_s": session_s,
                  "samples": wl.samples})

    lat = [r["s"] for r in plain if r["ok"]]
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {attempted} ops "
          f"({len(lat)} timed over {n - 1} cycles), {failed} failed; "
          f"set-up reps {[round(s, 3) for s in setup_s]}")
    marks = list(phases.items())
    print("# phases (s): " + ", ".join(f"{k} {t - marks[i][1]:.1f}"
                                       for i, (k, t) in enumerate(marks[1:])))
    for name, value in sorted(report.items()):
        print(f"{name} {value:.6g} {metrics.UNITS.get(name, '')}")
    print(f"answer check: {'PASS' if failed == 0 else 'FAIL'}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": result[k], "unit": metrics.UNITS[k]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
