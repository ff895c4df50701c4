"""Layered benchmark for eel_spark.

    python3 perfbench/run.py --workload {olap_tpch,store_ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` and the program under test, the ``eel_spark``
package of that checkout, receives only those inputs. One process, one
Spark session on ``local[<cores>]``, one client in a closed loop.

A run: five set-ups (start the session, generate the inputs), a first
pass in the fresh session whose results are collected for the
correctness check, then the workload's fixed number of steady passes
(at least ``--seconds`` long), then the correctness check. The
end-to-end metrics are CPU seconds of the process tree (see
``host.tree_cpu_s``): wall seconds on a shared virtual machine follow
the host's load. The last line of standard output is the result
object; a detail object (wall and CPU seconds of every set-up and
pass, steal, host CPU probe, check failures) is printed to standard
error before it.

With ``--trace 1`` steady passes alternate untraced and traced; the
traced ones record spans (run, pass, slot or micro-batch, build,
action, Spark job, stage) and read Spark's status stores, and the
result carries the per-layer metrics. Spans and the metrics that exist
on one workload only are written to ``.perfbench_work/out/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 5  # at least 2: session.start_s is the median of the restarts
PER_LAYER_SELF = ("pass", "unit", "build", "action", "job", "stage")


def _prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _import_program():
    """Import eel_spark from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import eel_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: eel_spark is not importable from {ROOT}: {e}")
    if not os.path.abspath(eel_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: eel_spark resolved outside the checkout: {eel_spark.__file__}")


def _session(cores: int):
    from eel_spark.session import get_session

    return get_session(
        "perfbench", master=f"local[{cores}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the benchmark's self-test")
    args = ap.parse_args(argv)

    _prepare_env()
    _import_program()
    import host
    import trace as tr
    import workloads as wl

    probe_before = host.cpu_probe()
    cores = len(os.sched_getaffinity(0))

    if args.workload not in wl.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(wl.WORKLOADS)}")
    workload = wl.WORKLOADS[args.workload](args.tiny)
    tracer = tr.Tracer(bool(args.trace))
    run_span = tracer.add("run", args.workload, time.time(), 0.0, None)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)

    # set-up, repeated: the first also launches the JVM (session.first_start_s)
    # and is measured from process start
    setups, setups_cpu, starts, spark = [], [], [], None
    t_begin, c_begin = T_PROCESS, 0.0
    steal_begin = host.steal_s()
    for k in range(SETUPS):
        with tracer.span("setup", f"setup {k}", run_span):
            if spark is not None:
                spark.stop()
                t_begin, c_begin = time.perf_counter(), host.tree_cpu_s()
            spark = _session(cores)
            starts.append(time.perf_counter() - t_begin)
            inputs = os.path.join(work, f"inputs{k}")
            workload.make_inputs(inputs, args.seed)
            setups.append(time.perf_counter() - t_begin)
            setups_cpu.append(host.tree_cpu_s() - c_begin)
    ctx = wl.Context(spark=spark, tracer=tracer,
                     status=tr.StatusReader(spark) if args.trace else None,
                     seed=args.seed, cores=cores, work=work, inputs=inputs)

    try:
        first = workload.run_pass(ctx, 0, run_span, collect=True)
        steady: list = []
        untraced: list[float] = []
        t_steady = time.perf_counter()
        # a fixed number of steady passes: CPU seconds fall from pass to
        # pass while the JIT warms up, so a pass count that followed the
        # host's speed would move pass_cpu_s. Traced runs alternate
        # untraced (even) and traced (odd) passes, so they need two.
        min_passes = max(workload.steady_passes, 2 if args.trace else 1)
        while len(steady) < min_passes or time.perf_counter() - t_steady < args.seconds:
            tracer.enabled = bool(args.trace) and len(steady) % 2 == 1
            r = workload.run_pass(ctx, len(steady) + 1, run_span)
            if args.trace and len(steady) % 2 == 0:
                untraced.append(r.wall_s)
            steady.append(r)
        tracer.enabled = bool(args.trace)
        t_check = time.perf_counter()
        with tracer.span("check", "correctness", run_span):
            try:
                n_checks, failures = workload.check(ctx, first)
            except Exception as e:  # noqa: BLE001 - a check that cannot run is a failure
                n_checks, failures = 1, [f"check raised {type(e).__name__}: {e}"]
        check_s = time.perf_counter() - t_check
    finally:
        tracer.enabled = bool(args.trace)
        if tracer.spans:
            tracer.spans[run_span]["end"] = time.time()
        _stop(spark)
    passes = [first, *steady]
    errors = [e for p in passes for e in p.errors]
    attempted = sum(p.attempted for p in passes) + n_checks
    failed = len(errors) + len(failures)
    run_wall = time.perf_counter() - T_PROCESS
    run_steal = host.steal_s() - steal_begin
    probe_after = host.cpu_probe()

    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "host.cpu_probe_before_s": probe_before, "host.cpu_probe_after_s": probe_after,
        "host.steal_s": run_steal, "host.steal_frac": run_steal / (run_wall * cores),
        "setups_s": setups, "setups_cpu_s": setups_cpu, "session_starts_s": starts,
        "first_pass_s": first.wall_s, "first_pass_cpu_s": first.cpu_s,
        "first_pass_steal_s": first.steal_s,
        "steady_passes_s": [p.wall_s for p in steady],
        "steady_cpu_s": [p.cpu_s for p in steady],
        "steady_steal_s": [p.steal_s for p in steady],
        "steady_units_s": [dict(p.units) for p in steady],
        "check_s": check_s, "run_s": run_wall,
        "failed_frac": failed / attempted, "errors": errors, "check_failures": failures,
    }
    traced = [p for p in steady[1::2] if p.layers]
    if args.trace:
        metrics = {}  # stays empty when every traced pass failed
        if traced:
            per_layer = _per_layer(tracer, traced, untraced, starts)
            per_layer["wall.setup_s"] = statistics.median(setups)
            per_layer["wall.first_pass_s"] = first.wall_s
            extra = {k: statistics.median(p.extra[k] for p in traced)
                     for k in traced[0].extra}
            detail["trace_file"] = _write_trace(args, tracer, per_layer, extra, detail)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups_cpu), "unit": "s"},
            "first_pass_cpu_s": {"value": first.cpu_s, "unit": "s"},
            "pass_cpu_s": {"value": statistics.median(p.cpu_s for p in steady), "unit": "s"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail), file=sys.stderr, flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def _per_layer(tracer, traced, untraced, starts) -> dict[str, float]:
    keys = traced[0].layers
    out = {k: statistics.median(p.layers[k] for p in traced) for k in keys}
    out["session.first_start_s"] = starts[0]
    out["session.start_s"] = statistics.median(starts[1:])
    selfs = [tracer.self_times(p.span) for p in traced]
    for layer in PER_LAYER_SELF:
        out[f"self.{layer}_s"] = statistics.median(s[layer] for s in selfs)
    traced_s = statistics.median(p.wall_s for p in traced)
    out["trace.traced_pass_s"] = traced_s
    out["trace.untraced_pass_s"] = statistics.median(untraced)
    out["trace.overhead_s"] = traced_s - statistics.median(untraced)
    return out


_UNITS = (("_s", "s"), (".s", "s"), ("_mb", "MB"), ("_mb_peak", "MB"),
          ("_frac", "ratio"), ("_util", "ratio"), ("_per_input_byte", "ratio"),
          ("_bytes", "bytes"), ("bytes_rewritten", "bytes"))


def _unit(name: str) -> str:
    for suffix, unit in _UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def _write_trace(args, tracer, per_layer, extra, detail) -> str:
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    run_self = tracer.self_times(0)
    with open(path, "w") as fh:
        json.dump({"detail": detail, "per_layer": per_layer,
                   "single_workload": extra, "run_self_s": run_self,
                   "spans": tracer.spans}, fh)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
