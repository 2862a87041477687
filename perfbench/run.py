"""Benchmark of the validation engine's user-level paths.

    python3 perfbench/run.py --workload batch_validate --seed 1 --seconds 10 --trace 0

Run from the repository root. One run makes sure the workload's inputs for
--seed exist (generating them in a JVM of their own the first time), then
starts a Spark session, loads the oracles' answers and runs the
workload's untimed warm-up operations, if any (together the set-up,
`setup_s`). It then times the workload's operation: a batch job's single
operation in the fresh JVM, or a server's requests in whole rounds until
--seconds have passed. Every operation's output is checked against the
generator's answers after its clock stops. The last stdout line is one
JSON object {correct, attempted, failed, metrics}.

--trace 0 reports the end-to-end metrics, measured with tracing off.
--trace 1 alternates untraced and traced rounds (spans around the engine's
public functions, Spark counters per span from the event log) and reports
the per-layer metrics; the full trace is written to
.bench_work/traces/<workload>-s<seed>.json.

Everything the run writes stays under .bench_work/ in the repository root;
generated inputs stay in .bench_work/data/ for later runs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "faang_pydantics_validation_spark"

# Two local cores and a 1 GB heap: small enough to share the host, and the
# fixed per-operation costs being measured do not need more.
CORES = 2
DRIVER_MEM = "1g"

# Public engine functions wrapped in spans in a traced run. The engine
# imports each of them at call time, so replacing the module attribute is
# enough.
TRACE_TARGETS = [
    (f"{ENGINE}.session", "get_spark", "session.get_spark"),
    (f"{ENGINE}.plans.fused", "validate_transcripts_fused", "fused.build"),
    (f"{ENGINE}.operators.schema", "schema_check", "schema.check"),
    (f"{ENGINE}.plans.pipeline", "validate_transcripts", "pipeline.build"),
    (f"{ENGINE}.plans.checkpoint", "pending_partitions", "checkpoint.pending"),
    (f"{ENGINE}.plans.verdicts", "write_results_json", "verdicts.results_json"),
    (f"{ENGINE}.plans.verdicts", "render_report", "verdicts.report"),
]


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _configure_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        TZ="UTC",
        # no JVM performance-data file in /tmp, for the launcher or the driver
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf " + shlex.quote(f"spark.sql.warehouse.dir={run_dir}/warehouse"),
                # A fixed heap size keeps the resident set from following the
                # collector's resizing decisions. Compiler threads that stay
                # alive keep their CPU time readable, so that the JIT's
                # share can be taken out of an operation's CPU time.
                "--driver-java-options "
                + shlex.quote(
                    f"-Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads "
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                ),
                "pyspark-shell",
            ]
        ),
    )
    time.tzset()


def _run_op(wl, tracer=None) -> dict:
    """One timed operation; its output is checked after the clock stops.
    `cpu_s` is the CPU time of the Python driver and the JVM without the
    JIT compiler threads, whose work depends on how long the JVM has run
    rather than on the operation; `jit_s` is theirs."""
    from perfbench.probe import tree_cpu_s, tree_jit_cpu_s

    sample = {"wall_s": None, "cpu_s": None, "jit_s": None, "turns": 0, "problems": []}
    try:
        wl.reset()
        span = tracer.span("op") if tracer else contextlib.nullcontext({})
        cpu0, jit0 = tree_cpu_s(), tree_jit_cpu_s()
        t0 = time.perf_counter()
        with span as rec:
            result, turns = wl.op(tracer)
        sample["wall_s"] = time.perf_counter() - t0
        jit = tree_jit_cpu_s() - jit0
        sample["cpu_s"] = tree_cpu_s() - cpu0 - jit
        sample["jit_s"] = jit
        sample["turns"] = rec["turns"] = turns
        sample["problems"] = wl.check(result)
    except Exception:
        sample["problems"] = [traceback.format_exc()]
    return sample


def _measure(wl, seconds: float) -> list[dict]:
    """Repeat the workload's operation in whole rounds of `wl.round_ops`
    until `seconds` have passed (at least one round); a cold workload
    times its one operation."""
    samples = []
    deadline = time.perf_counter() + seconds
    while len(samples) % wl.round_ops or not samples or (
        not wl.cold and time.perf_counter() < deadline
    ):
        samples.append(_run_op(wl))
        s = samples[-1]
        _log(f"op {len(samples)}: {s['wall_s']} s wall, {s['cpu_s']} s cpu "
             f"+ {s['jit_s']} s jit, {s['turns']} turns")
    return samples


def _stop_spark() -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    _stop_spark()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin reaches end of file
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _set_tracing(tracer, on: bool, log_dir: str) -> None:
    """Restart the SparkContext with Spark's event log on or off, wrap or
    unwrap the engine's public functions, and start the next session
    outside any operation."""
    from pyspark import SparkContext

    _stop_spark()  # also closes the event-log file of a traced context
    props = SparkContext._jvm.java.lang.System
    props.setProperty("spark.eventLog.enabled", str(on).lower())
    props.setProperty("spark.eventLog.compress", "false")
    props.setProperty("spark.eventLog.rolling.enabled", "false")
    props.setProperty("spark.eventLog.dir", "file://" + log_dir)
    if on:
        from pyspark.sql.classic.dataframe import DataFrame

        tracer.patch(TRACE_TARGETS)
        # the dedup pipeline's stages are lazy; the document count it takes
        # after each one runs it
        tracer.patch_method(DataFrame, "count", "run_dedup_pipeline", "dedup.count")
    else:
        tracer.unpatch()
    from faang_pydantics_validation_spark.session import get_spark

    tracer.trace_id = "setup"
    get_spark()


def _trace_run(wl, seconds: float, run_dir: str):
    """Rounds alternately untraced and traced, in blocks ordered
    untraced, traced, traced, untraced so that the JIT warm-up over the run
    weighs on both sides alike, until `seconds` have passed (one block at
    least). A cold workload runs one traced and then one untraced
    operation, each in a JVM of its own. Returns (untraced samples, traced
    samples, tracer, Spark jobs of the traced rounds, JVM GC ms during the
    traced rounds)."""
    from pyspark import SparkContext

    from perfbench import probe

    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    tracer = probe.Tracer()
    samples = {False: [], True: []}
    gc_ms = 0
    order = (True, False) if wl.cold else (False, True, True, False)
    deadline = time.perf_counter() + seconds
    try:
        while not samples[True] or (not wl.cold and time.perf_counter() < deadline):
            for traced in order:
                if wl.cold:
                    _shutdown_jvm()
                    SparkContext._ensure_initialized()
                    _set_tracing(tracer, traced, log_dir)
                elif traced != tracer.patched:
                    _set_tracing(tracer, traced, log_dir)
                gc0 = probe.jvm_gc_ms(SparkContext._jvm)
                for _ in range(wl.round_ops):
                    if traced:
                        tracer.trace_id = f"op{len(samples[True])}"
                    samples[traced].append(_run_op(wl, tracer if traced else None))
                if traced:
                    gc_ms += probe.jvm_gc_ms(SparkContext._jvm) - gc0
    finally:
        tracer.unpatch()
        _stop_spark()
    return samples[False], samples[True], tracer, probe.read_event_logs(log_dir), gc_ms


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"{ENGINE} not found in {ROOT}: run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, probe
    from statistics import median

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".bench_work")
    run_dir = os.path.join(work_root, f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure_env(run_dir)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work_root, "data"), run_dir)
    try:
        from faang_pydantics_validation_spark.session import get_spark

        if not wl.cached():
            # in a JVM of its own, so that every measured JVM starts alike
            t0 = time.perf_counter()
            wl.generate()
            _shutdown_jvm()
            _log(f"inputs generated in {time.perf_counter() - t0:.2f}s (not part of set-up)")

        # ---- set-up: session start, oracle answers, warm-up operations ----
        t0 = time.perf_counter()
        get_spark()
        session_start_s = time.perf_counter() - t0
        _log(f"session started in {session_start_s:.2f}s")
        wl.load()
        warm = [_run_op(wl) for _ in range(wl.warmup_ops)]
        setup_s = time.perf_counter() - t0
        _log(f"set-up done in {setup_s:.2f}s")

        if not args.trace:
            samples = _measure(wl, args.seconds)
            ok = [s for s in samples if s["wall_s"] is not None and not s["problems"]]
            cpu = [s["cpu_s"] for s in ok]
            # Wall time on a shared host swung by a quarter between runs of
            # the same code while CPU time moved by about a tenth, so the
            # bounded metrics are CPU-based; wall time is logged.
            if ok:
                _log(f"wall p50 {median(s['wall_s'] for s in ok):.3f} s, "
                     f"jit p50 {median(s['jit_s'] for s in ok):.2f} s, "
                     f"{sum(s['turns'] for s in ok) / sum(s['wall_s'] for s in ok):.1f} turns/s")
            metrics = {
                "op_cpu_ms": (median(cpu) * 1000 if ok else None, "ms"),
                "peak_rss_mb": (probe.tree_hwm_mb(), "MB"),
                "setup_s": (setup_s, "s"),
            }
            checked = warm + samples
        else:
            untraced, traced, tracer, jobs, gc_ms = _trace_run(wl, args.seconds, run_dir)
            checked = warm + untraced + traced
            report = layers.summarize(
                tracer.spans, jobs, traced, untraced, session_start_s, gc_ms
            )
            trace_dir = os.path.join(work_root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, **report,
                           "spans": tracer.spans,
                           "jobs": [{k: v for k, v in j.items() if k != "stage_tasks"} for j in jobs]},
                          f, indent=1, default=str)
            print(json.dumps({"trace": trace_path, "by_span": report["by_span"]}, default=str))
            metrics = {k: (v, layers.UNITS[k]) for k, v in report["metrics"].items()}
        _log(f"measured {len(checked) - len(warm)} operations")
    finally:
        _shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        _log("stopped")

    failed = [s for s in checked if s["problems"]]
    for s in failed[:3]:
        print("check failed:\n  " + "\n  ".join(s["problems"][:10]), file=sys.stderr)
    missing = [k for k, (v, _) in metrics.items() if v is None]
    if missing:
        print(f"no value for {missing}: every operation failed", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(checked),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
