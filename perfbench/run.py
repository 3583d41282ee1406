"""Benchmark command for usls_doc_spark.

    python3 perfbench/run.py --workload html_extract --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, starts a local Spark session on at most four pinned cores,
warms up, then runs timed passes of the workload back to back (one
client, one job at a time) until ``--seconds`` have passed, and checks
every output after the timed region. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. A record of the run (load
average, input sizes, every pass, spans and counters) is written to
``.bench_out/``. Exits non-zero when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import sys
import time

BENCH_DIR = pathlib.Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(ROOT), str(BENCH_DIR)]

GEN_REPS = 3  # set-up repeats the input generation; its median is reported


def quartiles(values: list[float]) -> dict[str, float]:
    if len(values) < 2:
        return {"n": len(values), "median": values[0], "q1": values[0], "q3": values[0]}
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"n": len(values), "median": med, "q1": q1, "q3": q3}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def measure(wl, seconds: float, prefix: str, monitor=None, on_pass=None) -> list[tuple]:
    """Closed-loop timed passes until ``seconds`` have elapsed (at least
    one). Returns (job_s, per-pass layer timings) per pass."""
    results: list[tuple] = []
    deadline = time.monotonic() + seconds
    while True:
        wl.tag = f"{prefix}-{len(results)}"
        if monitor:
            monitor.armed = True
        with wl.tracer.span("pass"):
            t0 = time.perf_counter()
            timings = wl.run_pass()
            job_s = time.perf_counter() - t0
        if monitor:
            monitor.armed = False
        wl.tracer.count(f"{wl.name}.docs", wl.n_docs)
        wl.after_pass(timings)
        if on_pass:
            on_pass(wl.tag, job_s, timings)
        results.append((job_s, timings))
        if time.monotonic() >= deadline:
            return results


def run(args, spec: dict, scratch: pathlib.Path) -> dict:
    import gen
    import harness
    import layers
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    cores = harness.pin_cores()
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cores": cores, "loadavg_before": harness.loadavg()}
    data_dir = str(scratch / "data")

    gen_s = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        stats = gen.generate(data_dir, cls.n_docs, args.seed, with_pages=cls.with_pages)
        gen_s.append(time.perf_counter() - t0)
    record["inputs"] = {k: v for k, v in stats.items() if k != "null_html_ids"}

    tracer = harness.Tracer(enabled=False)
    t0 = time.perf_counter()
    spark = harness.start_session(str(ROOT), str(scratch), len(cores), ui=bool(args.trace))
    session_s = time.perf_counter() - t0
    monitor = harness.RssMonitor()
    try:
        wl = cls(spark, data_dir, stats, tracer, str(scratch))
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        record["setup"] = {"generate_s": gen_s, "session_s": session_s, "warm_s": warm_s}
        setup_s = statistics.median(gen_s) + session_s + warm_s

        passes = measure(wl, args.seconds / (2 if args.trace else 1), "pass", monitor)
        record["passes_s"] = [p[0] for p in passes]
        job_s = statistics.median(record["passes_s"])
        if args.trace:
            metrics = traced_metrics(args, wl, spark, len(cores), job_s, record)
            metrics.update(layers.replay_html(wl.texts, args.seed, tracer))
            metrics.update(layers.replay_ocr(wl.texts, args.seed, tracer))
            probe, probe_attempted, probe_failed = wl.layer_probe()
            metrics.update(probe)
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "docs_per_s": cls.n_docs / job_s,
                "input_mb_per_s": wl.input_mb / job_s,
                "peak_rss_mb": monitor.peak_bytes / 1e6,
            }
        record["peak_rss_split_mb"] = {k: v / 1e6 for k, v in monitor.peak_split.items()}
        attempted, failed = wl.verify()
        if args.trace:
            attempted, failed = attempted + probe_attempted, failed + probe_failed
    finally:
        monitor.close()
        stop_spark(spark)

    names = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        others = [p for name, w in WORKLOADS.items() if name != args.workload for p in w.owned]
        for m in names:
            if m["name"] not in metrics and m["name"].startswith(tuple(others)):
                metrics[m["name"]] = 0.0  # this workload never calls that layer
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    record.update(
        attempted=attempted, failed=failed, error_rate=failed / attempted,
        job_s=quartiles(record["passes_s"]), loadavg_after=harness.loadavg(),
        metrics={m["name"]: metrics[m["name"]] for m in names},
        spans=tracer.spans, counters=tracer.counters,
    )
    return record


def traced_metrics(args, wl, spark, n_cores: int, untraced_job_s: float,
                   record: dict) -> dict[str, float]:
    """Traced passes: spans on; per-pass stage and SQL-node metrics read
    back from the REST API outside the timed region. The untraced passes
    before them ran in the same session, so the Spark UI's own listener
    cost is in both and not in trace_overhead_share."""
    import harness

    rest = harness.SparkRest(spark)
    wl.tracer.enabled = True
    per_pass: list[dict[str, float]] = []

    def on_pass(tag: str, job_s: float, timings: dict[str, float]) -> None:
        rest.settle(lambda d: d.startswith(tag + "/"))
        m = dict(timings, job_s=job_s)
        m.update(rest.stage_metrics(lambda d: d.startswith(tag + "/"), job_s, n_cores))
        nodes = rest.node_metrics(lambda d: d.startswith(tag + "/"))
        m.update({k: v for k, v in nodes.items() if k != "scans"})
        for key in timings:
            if key.startswith("operators.") and key.endswith(".build_s"):
                q = key.split(".")[1]
                m[f"operators.{q}.scans"] = rest.node_metrics(
                    lambda d: d == f"{tag}/{q}")["scans"]
        per_pass.append(m)

    passes = measure(wl, args.seconds / 2, "trace", on_pass=on_pass)
    record["traced_passes_s"] = [p[0] for p in passes]
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["trace_overhead_share"] = out.pop("job_s") / untraced_job_s - 1
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import workloads  # imports the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    out_dir = ROOT / ".bench_out"
    scratch = out_dir / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    try:
        record = run(args, spec, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1) + "\n")

    q = record["job_s"]
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"docs={record['inputs']['docs']} passes={q['n']} "
          f"job_s q1/median/q3={q['q1']:.3f}/{q['median']:.3f}/{q['q3']:.3f} "
          f"loadavg {record['loadavg_before'][0]:.2f}->{record['loadavg_after'][0]:.2f}")
    print(f"error_rate {record['error_rate']:.6g} share "
          f"({record['failed']} failed of {record['attempted']} checked)")
    for name, value in record["metrics"].items():
        print(f"{name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in record["metrics"].items()},
    }))
    return 0 if record["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
