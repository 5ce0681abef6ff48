"""CDC-ingest benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload trickle_mor --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from --seed by
perfbench/gen.py (numpy/pyarrow/json, never the program's own
generators) and cached under .perfbench_work/ in the checkout, where the
tables, Spark's scratch space and the span dump also live. Every
operation's answer is checked against the numpy oracle in
perfbench/oracle.py. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). A wrong
answer makes the exit code 1; a missing program makes it 2.

--trace 1 measures three windows in one process: untraced, traced with a
span around every call into a layer (perfbench/spans.py), untraced
again. It reports the per-layer counters of the traced window and the
tracing overhead of each end-to-end metric: the traced value minus the
value of the untraced window after it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
DRIVER_MEM = "3g"

E2E = {
    "setup_s": "s",
    "apply_eps": "events/s",
    "epoch_s_p50": "s",
    "epoch_s_tail": "s",
    "lookup_ms_p50": "ms",
    "lookup_ms_tail": "ms",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}
HIGHER_IS_BETTER = {"apply_eps"}

# per span name: the counters reported with --trace 1. Span times are
# seconds per commit of the traced window (`s/commit`): windows hold
# different numbers of commits, and seconds per commit keep one layer's
# figure independent of every other layer's.
SPAN_COUNTERS = {
    "streaming.apply": ["calls", "s", "self_s"],
    "lake.merge": [
        "calls", "jobs", "tasks", "s", "driver_s", "task_s", "cpu_s", "gc_s",
        "busy_frac", "shuffle_write_bytes", "spill_bytes", "output_bytes",
    ],
    "lake.compact": ["calls", "s", "task_s", "output_bytes"],
    "lake.read_keys": ["calls", "jobs", "s", "driver_s", "task_s"],
    "lake.append": ["calls", "s", "driver_s", "task_s", "output_bytes"],
    "lake.overwrite_where": ["calls", "s", "driver_s", "task_s", "output_bytes"],
    "destination.write": ["calls", "jobs", "s", "self_s", "driver_s", "task_s"],
}
PER_COMMIT = {"s", "self_s", "driver_s", "task_s", "cpu_s", "gc_s"}
DERIVED = {
    "session.get_spark.s": ("s", "lower"),
    "lake.merge.events_per_row": ("ratio", "higher"),
    "lake.merge.events_per_shuffle_row": ("ratio", "higher"),
    "lake.read_keys.files_frac": ("ratio", "lower"),
    "lake.max_files_per_bucket": ("count", "lower"),
    "lake.write_amp": ("ratio", "lower"),
}
COUNTER_UNITS = {
    **dict.fromkeys(PER_COMMIT, "s/commit"), "busy_frac": "ratio",
    "calls": "count", "jobs": "count", "tasks": "count",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "output_bytes": "bytes",
}


def per_layer_spec() -> list[dict]:
    """The --trace 1 metrics, in the order BENCHMARK.json lists them."""
    out = []
    for span, counters in SPAN_COUNTERS.items():
        for c in counters:
            better = "higher" if c == "busy_frac" else "lower"
            out.append({"name": f"{span}.{c}", "unit": COUNTER_UNITS[c], "better": better})
    for name, (unit, better) in DERIVED.items():
        out.append({"name": name, "unit": unit, "better": better})
    for m, unit in E2E.items():
        if m != "setup_s":
            better = "higher" if m in HIGHER_IS_BETTER else "lower"
            out.append({"name": f"trace_overhead.{m}", "unit": unit, "better": better})
    return out


# --------------------------------------------------------- environment


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(cores: int) -> None:
    """Everything Spark, the JVM and Python write goes under WORK."""
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # the whole heap from the start: a heap that grows on demand
        # grows by different steps from run to run (peak RSS spread 0.2
        # over ten seeds); the program's own JVM options still apply
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.local.dir": str(WORK / "spark-local"),
        # the tracer reads stage counters back from the status store
        # after the window; keep every job of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def drift_line(name: str, xs: list[float]) -> str:
    h = len(xs) // 2
    if h < 2:
        return f"drift {name}: n={len(xs)} (too few to split)"
    a, b = statistics.median(xs[:h]), statistics.median(xs[h:])
    return f"drift {name}: first-half median {a:.4g}, second-half {b:.4g} ({(b - a) / a:+.1%}), n={len(xs)}"


def layer_metrics(run, window: dict) -> dict[str, float]:
    totals = run.tracer.totals()
    out: dict[str, float] = {}
    for span, counters in SPAN_COUNTERS.items():
        agg = totals.get(span, {})
        for c in counters:
            if c == "busy_frac":
                jw = agg.get("job_wall_s", 0.0)
                v = agg.get("task_s", 0.0) / (jw * run.cores) if jw else 0.0
            elif c in PER_COMMIT:
                v = agg.get(c, 0.0) / len(window["epoch_s"])
            else:
                v = agg.get(c, 0.0)
            out[f"{span}.{c}"] = float(v)
    merge = totals.get("lake.merge", {})
    ups = window.get("rows_upserted", 0)
    out["lake.merge.events_per_row"] = window["events"] / ups if ups else 0.0
    shuf = merge.get("shuffle_write_records", 0.0)
    out["lake.merge.events_per_shuffle_row"] = window["events"] / shuf if shuf else 0.0
    fr = window.get("files_frac", [])
    out["lake.read_keys.files_frac"] = statistics.fmean(fr) if fr else 0.0
    mf = window.get("max_files", [])
    out["lake.max_files_per_bucket"] = statistics.fmean(mf) if mf else 0.0
    written = sum(
        totals.get(s, {}).get("output_bytes", 0.0)
        for s in ("lake.merge", "lake.append", "lake.compact", "lake.overwrite_where")
    )
    out["lake.write_amp"] = written / window["input_bytes"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_replay", "trickle_mor", "airbyte_sync"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's small inputs")
    args = ap.parse_args(argv)

    if not (ROOT / "airbyte_destination_spark" / "__init__.py").is_file():
        print(f"program not found next to {HERE.name}/", file=sys.stderr)
        return 2
    cores = nproc()
    prepare_env(cores)
    sys.path.insert(0, str(ROOT))
    import workloads
    from spans import Tracer

    run = workloads.Run(args.seed, cores)
    run.tracer = Tracer()
    wl = workloads.WORKLOADS[args.workload](run, WORK, args.size)
    t_sess = setup_s = 0.0
    passes: list[dict] = []
    try:
        wl.generate()
        t0 = time.perf_counter()
        from airbyte_destination_spark.session import get_spark

        run.spark = get_spark(master=f"local[{cores}]", extra_conf=spark_conf())
        t_sess = time.perf_counter() - t0
        run.jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
        wl.setup()
        setup_s = time.perf_counter() - T_START - run.gen_s

        passes.append(wl.window(args.seconds, traced=False))
        if args.trace:
            # the first window doubles as warm-up (the process is still
            # speeding up through it); the overhead compares the traced
            # window with the untraced one after it, each with its own
            # peak RSS
            run.tracer = Tracer(run.spark)
            wl.instrument(run.tracer)
            run.reset_peak_rss()
            passes.append(wl.window(args.seconds, traced=True))
            run.tracer.unwrap_all()
            traces, run.tracer = run.tracer, Tracer()
            run.reset_peak_rss()
            passes.append(wl.window(args.seconds, traced=False))
            run.tracer = traces
            run.tracer.resolve(run.spark, cores)
        wl.final_check()
    except workloads.Failure:
        pass
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
    if run.failed == 0:  # a failed run keeps its tables for inspection
        shutil.rmtree(wl.tables, ignore_errors=True)
    return report(args, run, passes, setup_s, t_sess)


def report(args, run, passes: list[dict], setup_s: float, t_sess: float) -> int:
    """Print the human summary, then the result line; exit status."""
    for p in passes:
        print(f"pass traced={p['traced']}: {len(p['epoch_s'])} commits, "
              f"{len(p['lookup_ms'])} lookups, {p['events']} events, "
              f"{p['window_s']:.1f} s window, {p['steal']:.1%} CPU steal")
        for phase in ("epoch_s", "lookup_ms"):
            print(f"  {phase} samples: " + " ".join(f"{x:.4g}" for x in p[phase]))
            print(drift_line(phase, p[phase]))
    for msg in run.problems:
        print(f"MISMATCH {msg}")
    print(f"error_rate: {run.failed}/{run.attempted} = "
          f"{run.failed / max(run.attempted, 1):.4g} ratio")
    parts = "".join(f"; {k} {v:.2f} s" for k, v in run.setup_parts.items())
    print(f"tail = p75; session.get_spark {t_sess:.3f} s{parts}; "
          f"input generation {run.gen_s:.2f} s (outside setup_s); "
          f"process wall {time.perf_counter() - T_START:.1f} s")

    metrics: dict[str, dict] = {}
    if passes:
        base = {"setup_s": setup_s, **passes[0]["metrics"]}
        if args.trace and len(passes) == 3:
            _, traced, after = passes
            vals = {**layer_metrics(run, traced), "session.get_spark.s": t_sess}
            for m in E2E:
                if m != "setup_s":
                    vals[f"trace_overhead.{m}"] = traced["metrics"][m] - after["metrics"][m]
            units = {d["name"]: d["unit"] for d in per_layer_spec()}
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()}
            dump = WORK / f"spans-{args.workload}-{args.seed}.json"
            dump.write_text(json.dumps(run.tracer.dump()))
            print(f"spans: {len(run.tracer.spans)} written to {dump.relative_to(ROOT)}")
        elif not args.trace:
            metrics = {m: {"value": float(base[m]), "unit": u} for m, u in E2E.items()}
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    correct = run.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": max(run.failed, 0 if correct else 1),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
