"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts a `local[nproc]` Spark
session sized to the host and generates the seed's inputs with
`guackg.testing.gen`. The timed section then repeats the workload's
operation, each time in a fresh working directory, until `--seconds`
have passed (at least once), and checks every output against golden
data derived from the generator. There is no warm-up: the first
operation runs in a fresh JVM, as a spark-submit run of the pipeline
does, so every run pays the same class loading, code generation and
Python worker start (a warm-up costs as much as the operation itself
at these input sizes, and three workloads leave no time for it).

`--trace 0` reports the end-to-end metrics. `--trace 1` is a separate
run of one traced operation, the same cold operation `--trace 0`
times: spans and Spark job groups around every guackg entry point,
joined with the Spark event log into a per-layer table (printed as
text, saved as JSON under .perfbench_work/reports). Tracing overhead
is reported twice: the tracer's own time inside the operation (span
bookkeeping and its job-group calls into the JVM), and the traced
operation's wall time minus the median of the untraced ones that
earlier `--trace 0` runs of the workload recorded in this checkout.
Any deterministic counter that differs from an earlier traced run of
the same workload and seed in this checkout is flagged.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("kg_build", "kg_query", "corpus_clean"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def run_ops(wl, seconds: float, tracer=None):
    """Repeat the workload's operation until `seconds` have passed, at
    least once; returns the completed results and the op counts."""
    done, failed, attempted = [], 0, 0
    start = time.perf_counter()
    while True:
        if tracer is not None:
            rep = tracer.new_rep()
        try:
            res = wl.op(tracer)
        except Exception:  # noqa: BLE001 - an operation failure is counted
            traceback.print_exc()
            attempted += 1
            failed += 1
        else:
            attempted += res.attempted
            if res.failures:
                failed += min(len(res.failures), res.attempted)
                log(f"{wl.name} check failed: {res.failures}")
            if tracer is not None:
                with tracer.untagged():
                    wl.trace_extras(rep, res)
                res.info["rep"] = rep
            wl.cleanup(res)
            done.append(res)
        if time.perf_counter() - start >= seconds:
            return done, attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import guackg.pipeline  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import guackg from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import host
    units = metric_units()

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)   # host.configure_env gives paths relative to it
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    host.configure_env(ROOT, work, event_log)
    try:
        result = bench(args, work, event_log,
                       os.path.join(base, "reports"), units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        host.reap_descendants()
    print(json.dumps(result))
    return 0


def bench(args, work: str, event_log: str | None, reports: str,
          units: dict[str, str]) -> dict:
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    t_setup = time.perf_counter()
    spark = host.start_spark()
    stopped = False
    try:
        setup = {"setup.session_s": time.perf_counter() - t_setup}
        wl = WORKLOADS[args.workload](args.seed, work)
        t0 = time.perf_counter()
        wl.generate()
        wl.prepare(spark)
        setup["setup.input_s"] = time.perf_counter() - t0
        setup["setup.base_kg_s"] = wl.build_base()
        setup_s = time.perf_counter() - t_setup
        log(f"{args.workload} seed={args.seed} set-up {setup_s:.2f} s "
            + " ".join(f"{k}={v:.2f}" for k, v in setup.items()))

        if args.trace:
            from perfbench import trace
            tracer = trace.Tracer(spark)
            tracer.install()
            try:
                traced, attempted, failed = run_ops(wl, 0, tracer)
            finally:
                tracer.uninstall()
            host.stop_spark(spark)   # flushes and closes the event log
            stopped = True
            metrics = traced_metrics(args, traced, setup, event_log,
                                     reports)
        else:
            with host.PeakRss() as rss:
                done, attempted, failed = run_ops(wl, args.seconds)
            metrics = {
                "items_per_s": statistics.median(
                    r.items / r.wall_s for r in done) if done else 0.0,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_mb,
            }
            report_ops(args.workload, done, attempted, failed)
            os.makedirs(reports, exist_ok=True)
            with open(untraced_log(reports, args.workload), "a") as f:
                f.writelines(f"{r.wall_s}\n" for r in done)
    finally:
        if not stopped:
            host.stop_spark(spark)
    return {"correct": failed == 0 and attempted > 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def report_ops(workload: str, done, attempted: int, failed: int) -> None:
    for r in done:
        extra = {k: v for k, v in r.info.items() if k != "rep"}
        log(f"{workload} op {r.wall_s:.3f} s, {r.items} items, "
            f"{r.items / r.wall_s:.1f}/s {json.dumps(extra)}")
    log(f"error_rate {failed / max(attempted, 1):.4f} "
        f"({failed} failed of {attempted} attempted)")


def untraced_log(reports: str, workload: str) -> str:
    """Operation wall times of the untraced runs of a workload."""
    return os.path.join(reports, f"untraced-{workload}.txt")


def traced_metrics(args, traced, setup, event_log, reports):
    from perfbench import trace
    if not traced:
        raise RuntimeError("the traced operation did not complete")
    res = traced[0]
    rep = res.info["rep"]
    metrics = trace.layer_metrics(
        rep, trace.EventLog.parse(trace.read_event_log(event_log)))
    metrics.update(setup)
    text = trace.format_table(metrics)
    print(text)
    log(f"tracing overhead: {rep.overhead_s:.3f} s of tracer work in "
        f"{len(rep.spans)} spans")
    untraced = []
    if os.path.exists(untraced_log(reports, args.workload)):
        with open(untraced_log(reports, args.workload)) as f:
            untraced = [float(x) for x in f]
    if untraced:
        med = statistics.median(untraced)
        log(f"tracing overhead: traced operation {res.wall_s:.3f} s vs "
            f"{med:.3f} s, the median of {len(untraced)} untraced ones "
            f"({res.wall_s - med:+.3f} s)")
    os.makedirs(reports, exist_ok=True)
    path = os.path.join(reports,
                        f"trace-{args.workload}-seed{args.seed}.json")
    flags = None
    if os.path.exists(path):   # an earlier traced run of these inputs
        with open(path) as f:
            flags = trace.counter_flags(json.load(f)["metrics"], metrics)
        log("counter flags vs the previous traced run: "
            + ("; ".join(flags) if flags else "none"))
    else:
        log("counter flags: no earlier traced run of this seed")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "tracer_s": rep.overhead_s, "spans": len(rep.spans),
                   "traced_wall_s": res.wall_s,
                   "untraced_wall_s": untraced,
                   "counter_flags": flags, "metrics": metrics,
                   "table": text}, f, indent=1)
    log(f"trace report {os.path.relpath(path, ROOT)}")
    return {k: metrics[k] for k in trace.per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
