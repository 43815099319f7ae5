"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload image_io --seed 1 --seconds 14 \
        --trace 0

Run from the root of a checkout. The library is imported from that root
and put on PYTHONPATH, so Spark's Python workers import it the way an
installed package is imported, whatever their working directory. Every
file the run writes lives under `.perfbench_run/` in the checkout.

`--trace 0` prints the end-to-end metrics; `--trace 1` enables the Spark
event log and the span recorder and prints the per-layer metrics. The
last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170


def _process_start() -> float:
    """perf_counter() value at process start, from /proc/self/stat."""
    now = time.perf_counter()
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")
        return now - max(age, 0.0)
    except (OSError, ValueError, IndexError):
        return now


T_PROCESS = _process_start()


def _loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def _cpu_ticks() -> tuple:
    """(steal, total) jiffies from /proc/stat: CPU time the hypervisor
    gave to other guests, a host-noise signal kept in each report."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    forked) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # already closed by stop(); the JVM wait below rules
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()        # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bioio_spark", "__init__.py")):
        print(f"perfbench: no bioio_spark package at {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".perfbench_run")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(runs, f"{tag}-{os.getpid()}")
    results = os.path.join(runs, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "spark-local", "tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    try:
        return _run(args, bench, work, results, tag)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, bench: dict, work: str, results: str, tag: str) -> int:
    """Inputs, session, warm-up, the timed loop, the batch ops and the
    report, inside the run's own directory `work`."""
    from perfbench.trace import CpuMeter, Tracer, engine_by_group, rollup
    from perfbench.workloads import WORKLOADS, Ctx

    nproc = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # no hsperfdata file under /tmp from the launcher or the Spark JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    os.chdir(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    load_before = _loadavg()
    ticks_before = _cpu_ticks()

    import numpy as np

    wl = WORKLOADS[args.workload]()
    tr = Tracer(bool(args.trace))
    cpu = CpuMeter(os.getpid())
    spark = None
    try:
        t0, c0 = time.perf_counter(), cpu()
        with tr.span("inputs.prepare"):
            wl.prepare(np.random.default_rng(args.seed),
                       os.path.join(work, "inputs"))
        inputs_s, inputs_cpu_s = time.perf_counter() - t0, cpu() - c0

        from bioio_spark import get_session

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"}
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(work,
                                                               "events")})
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = get_session(app_name="perfbench", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        if args.trace:
            tr.bind(spark.sparkContext)
        ctx = Ctx(spark, tr, work, cpu)
        t0 = time.perf_counter()
        with tr.span("session.warmup"):
            wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0
        ctx.samples.clear()

        t_loop = time.perf_counter()
        setup_s = cpu() - inputs_cpu_s
        setup_wall_s = t_loop - T_PROCESS - inputs_s
        deadline = t_loop + args.seconds
        steps = 0
        for label, fn, fn_args in wl.schedule():
            if steps and time.perf_counter() >= deadline:
                break
            tr.op = steps
            with tr.span(f"{wl.name}.op"):
                ctx.op(label, fn, *fn_args)
            steps += 1
        loop_s = time.perf_counter() - t_loop
        for label, fn, fn_args in wl.batch():
            tr.op = steps
            with tr.span(f"{wl.name}.op"):
                ctx.op(label, fn, *fn_args)
            steps += 1
        tr.op = None
        timed_s = time.perf_counter() - t_loop
        wl.finish(ctx)
        if args.trace:
            def probes(ctx):
                with tr.span("layer.probes"):
                    wl.probes(ctx)
                return True, {}
            ctx.op("layer.probes", probes)
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop_session(spark)

    load_after = _loadavg()
    steal, total = (a - b for a, b in zip(_cpu_ticks(), ticks_before))
    e2e = {"setup_s": setup_s, **wl.end_to_end(ctx)}
    named = {**e2e, "setup_wall_s": setup_wall_s, "inputs_s": inputs_s,
             **wl.named(ctx),
             "error_rate": ctx.failed / max(ctx.attempted, 1)}
    report = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "steps": steps, "loop_s": loop_s,
              "timed_s": timed_s, "inputs_s": inputs_s, "nproc": nproc,
              "loadavg_before": load_before, "loadavg_after": load_after,
              "cpu_steal_share": steal / max(total, 1),
              "end_to_end": e2e, "named": named,
              "attempted": ctx.attempted, "failed": ctx.failed,
              "failures": ctx.failures, "samples": ctx.samples}

    section = "per_layer" if args.trace else "end_to_end"
    if args.trace:
        ctx.engine = engine_by_group(os.path.join(work, "events"))
        by_id = tr.by_id()
        step_ids = {s.sid for s in tr.spans if s.name == f"{wl.name}.op"}
        eng = rollup(tr.spans, by_id, ctx.engine, step_ids)
        phased = [s for s in tr.spans if s.op is not None and s.phase]
        build = sum(s.dur for s in phased if s.phase == "build")
        top = [s for s in tr.spans if s.parent is None]
        layers = {"session.start_s": session_s,
                  "session.warmup_s": warmup_s,
                  **{f"engine.{k}": v / max(steps, 1)
                     for k, v in eng.items()},
                  "engine.build_share": build / max(
                      sum(s.dur for s in phased), 1e-9),
                  "trace.coverage": sum(s.dur for s in top) / (
                      max(s.end for s in top) - min(s.start for s in top)),
                  "trace.bookkeeping_s": tr.overhead_s,
                  **wl.layers(ctx)}
        report["per_layer"] = layers
        report["engine_by_group"] = {str(k): v for k, v in ctx.engine.items()}
        tr.dump(os.path.join(results, f"{tag}.spans.json"))
        values = {m["name"]: layers.get(m["name"], 0.0)
                  for m in bench["per_layer"]}
    else:
        values = e2e

    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)

    print(f"workload {wl.name} seed {args.seed} trace {args.trace}: "
          f"{steps} ops in {timed_s:.2f} s (loop {loop_s:.2f} s); nproc "
          f"{nproc}; loadavg "
          f"before {load_before} after {load_after}; cpu steal "
          f"{steal / max(total, 1):.3f}")
    for k, v in named.items():
        print(f"  {k} = {v:.6g}")
    for failure in ctx.failures:
        print(f"  FAILED {failure}")
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in bench[section]}
    print(json.dumps({"correct": ctx.failed == 0 and steps > 0,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
