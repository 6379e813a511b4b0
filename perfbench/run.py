"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from the checkout's root and prints, as the last line
of stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. A human-readable report goes to stderr.

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json. After the
  workload's untimed warm-up passes, passes repeat in a closed loop until
  its ``min_passes`` are done and ``--seconds`` have passed.
- ``--trace 1``: the per-layer metrics. Spark's event log is on and each
  span is a job group. The tracing overhead is the traced pass time over
  the median pass time of the untraced runs of the same sources: each
  untraced run appends its pass time to
  ``.perfbench/untraced/<workload>.jsonl`` under a hash of every source
  file in the checkout. A traced run that finds none makes one untraced
  run of its own, in a child process, after its own session has ended.

Every file the run writes stays under ``.perfbench/`` in the checkout;
the work directory is removed at exit, and the last traced run's spans
and per-layer metrics are kept in ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import harness

# Listed here rather than read from workloads.WORKLOADS: importing that
# module (numpy, pyarrow) before set-up would shorten the timed set-up.
WORKLOAD_NAMES = ("etl_ingest", "curation_cold")
_STATE = os.path.join(harness.ROOT, ".perfbench")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(_STATE, f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.confine(work)
    try:
        result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args: argparse.Namespace, work: str, spec: dict) -> dict:
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = harness.start_session(work, event_dir)
    setup_s = harness.process_age_s()
    try:
        import workloads
        from stats import median

        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        outcome = workloads.Outcome()
        for _ in range(wl.warmup_passes):  # untimed and untraced, but checked
            wl.run_pass(spark, workloads.Tracer(spark, tag_jobs=False), outcome)
        tracer = workloads.Tracer(spark, tag_jobs=bool(args.trace))
        cpu: list[float] = []
        deadline = time.perf_counter() + args.seconds
        with tracer.span(args.workload):
            while len(cpu) < wl.min_passes or time.perf_counter() < deadline:
                cpu0 = harness.tree_cpu_s()
                with tracer.span("pass"):
                    wl.run_pass(spark, tracer, outcome)
                cpu.append(harness.tree_cpu_s() - cpu0)
        t0 = time.perf_counter()
        wl.check(outcome)
        passes = tracer.seconds("pass")
        report = {"cpus": harness.cpus(), "inputs": wl.inputs, "setup_s": [setup_s], "pass_s": passes,
                  "pass_cpu_s": cpu, **wl.summary(tracer), "check_s": [time.perf_counter() - t0]}
        if args.trace:
            rss = harness.peak_rss_mb(harness.jvm_pid())
            harness.stop_session(spark)
            spark = None
            metrics = _layers(wl, tracer, event_dir, rss, _untraced_pass_s(args), median(passes))
            os.makedirs(os.path.join(_STATE, "trace"), exist_ok=True)
            tracer.dump(os.path.join(_STATE, "trace", f"{args.workload}-spans.json"))
            with open(os.path.join(_STATE, "trace", f"{args.workload}-layers.json"), "w") as fh:
                json.dump(metrics, fh, indent=1)
        else:
            metrics = {"setup_s": setup_s, "pass_s": median(passes), "pass_cpu_s": median(cpu)}
            _record_untraced(args, metrics["pass_s"])
    finally:
        if spark is not None:
            harness.stop_session(spark)
    _report(args, report, outcome, metrics)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {kind}")
    return {
        "correct": not outcome.failures,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _layers(wl, tracer, event_dir: str, rss: float, untraced_s: float, traced_pass_s: float) -> dict:
    import workloads
    from eventlog import EventLog

    (log_file,) = os.listdir(event_dir)
    t0 = time.perf_counter()
    log = EventLog.read(os.path.join(event_dir, log_file))
    print(f"  event log: {os.path.getsize(os.path.join(event_dir, log_file)) / 1e6:.1f} MB parsed in "
          f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    n = len(tracer.named("pass"))
    g = log.select(wl.name)
    metrics = dict.fromkeys(workloads.LAYER_NAMES, 0.0)
    metrics.update(workloads.common_layers(log, g, n))
    metrics.update(wl.layers(log, tracer))
    wall = sum(tracer.seconds("pass"))
    metrics.update({
        "session.jvm_peak_rss_mb": rss,
        "spark.core_busy_ratio": g.exec_run_ms / 1000 / (wall * harness.cpus()),
        "trace.pass_s": traced_pass_s,
        "trace.untraced_pass_s": untraced_s,
        "trace.overhead_ratio": traced_pass_s / untraced_s,
        "trace.unattributed_jobs": log.groups[""].jobs if "" in log.groups else 0,
    })
    return metrics


def _untraced_log(workload: str) -> str:
    return os.path.join(_STATE, "untraced", f"{workload}.jsonl")


def _sources_hash() -> str:
    """Hash of every source file in the checkout (the program and this
    benchmark), so that untraced runs of other code are never matched."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(harness.ROOT):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__pycache__")))
        for f in sorted(files):
            if f.endswith((".py", ".json")):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, harness.ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _record_untraced(args: argparse.Namespace, pass_s: float) -> None:
    os.makedirs(os.path.join(_STATE, "untraced"), exist_ok=True)
    with open(_untraced_log(args.workload), "a") as fh:
        fh.write(json.dumps({"sources": _sources_hash(), "seed": args.seed, "pass_s": pass_s}) + "\n")


def _untraced_pass_s(args: argparse.Namespace) -> float:
    """Median ``pass_s`` of the untraced runs of these sources in this
    checkout, after making one if there is none."""
    from stats import median

    def recorded() -> list[float]:
        try:
            with open(_untraced_log(args.workload)) as fh:
                entries = [json.loads(line) for line in fh]
        except FileNotFoundError:
            return []
        return [e["pass_s"] for e in entries if e.get("sources") == key]

    key = _sources_hash()
    if not recorded():
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, check=True, stdout=sys.stderr, cwd=harness.ROOT, timeout=110)
    passes = recorded()
    if not passes:
        raise RuntimeError(f"no untraced {args.workload} run recorded to compare the traced run with")
    return median(passes)


def _report(args, report: dict, outcome, metrics: dict) -> None:
    from stats import highest_supported, median

    err = sys.stderr
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} cpus={report['cpus']}", file=err)
    print(f"  inputs: {json.dumps(report['inputs'])}", file=err)
    for name, values in report.items():
        if isinstance(values, list) and values:
            tail = highest_supported(values)
            shown = ", ".join(f"{v:.4g}" for v in values) if len(values) <= 5 else f"n={len(values)}"
            print(f"  {name}: median={median(values):.4f} ({shown})" + (f", {tail}" if tail else ""), file=err)
    print(f"  failed_ratio: {outcome.failed}/{outcome.attempted}", file=err)
    for op, why in outcome.failures:
        print(f"  FAILED {op}: {why}", file=err)
    for k, v in sorted(metrics.items()):
        print(f"  {k} = {v:.6g}", file=err)


if __name__ == "__main__":
    sys.exit(main())
