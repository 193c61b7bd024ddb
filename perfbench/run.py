"""The repository benchmark: one crawl workload, one closed-loop client.

    python3 perfbench/run.py --workload crawl_parse --seed 1 --seconds 12 --trace 0

Runs local[nproc] from the checkout this file sits in: generates every
workload's input tables on first use (into .perfbench_work, not timed), sets
up a crawl, runs the timed waves one after another, checks every wave
against OracleCrawl, and prints every metric by name and unit.  The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": <waves>, "failed": <waves>, "metrics": {...}}

--trace 0 reports the end-to-end metrics.  --trace 1 first runs the same
crawl untraced, then again in a new JVM with the JSON event log on and spans
around the engine's layers, and reports the per-layer metrics (medians over
the traced timed waves) plus trace_overhead, the traced over the untraced
crawl's median wave wall.  See perfbench/README.md.
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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _say(line: str) -> None:
    print(line, flush=True)


def report(name: str, value: float, unit: str, note: str = "") -> None:
    _say(f"  {name:<36} {value:>14.4f} {unit:<7} {note}")


def run(w, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import crawl, inputs, stats
    from perfbench import trace as tr

    # the first run in a checkout builds every workload's inputs, so no
    # later run pays for generation
    for each in inputs.WORKLOADS.values():
        inputs.ensure_inputs(each)
    seeds = inputs.pick_seeds(w, seed)
    n_timed = w.timed_waves(seconds)
    work = os.path.join(host.WORK, "runs", f"{w.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    facts = host.host_facts()
    _say(f"perfbench {w.name} seed={seed} trace={int(trace)} timed_waves={n_timed} "
         f"nproc={facts['nproc']} ram_mb={facts['ram_mb']} spark={facts['spark']}; "
         f"{facts['comparable_with']}")
    try:
        t_start = time.perf_counter()
        spark = host.get_session(f"perfbench-{w.name}")
        base = crawl.run_crawl(spark, w, seeds, n_timed, os.path.join(work, "wh"), t_start)
        rss = host.peak_rss_mb(spark)
        spark.stop()
        traced = tracer = None
        if trace:
            # the traced crawl in a JVM of its own, as cold as the untraced
            # crawl's: that crawl is the reference trace_overhead divides by
            host.stop_processes()
            host.forget_udf_bindings()
            log_dir = os.path.join(work, "eventlog")
            wh = os.path.join(work, "wh-traced")
            spark = host.get_session(f"perfbench-{w.name}-traced", event_log_dir=log_dir)
            tracer = tr.Tracer(spark)
            traced = crawl.run_crawl(spark, w, seeds, n_timed, wh, time.perf_counter(), tracer=tracer)
            spark.stop()
            jobs, stages = tr.read_event_log(tr.find_event_log(log_dir), inputs.pages_dir(w), wh)
        t_check = time.perf_counter()
        verdicts = crawl.check_crawl(w, seeds, base)
        if traced is not None:
            verdicts += crawl.compare_runs(traced, base)
        _say(f"  output checks took {base.collect_s:.2f} s reading state + "
             f"{time.perf_counter() - t_check:.2f} s comparing")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for row, wall in zip([base.warm_row] + base.rows, [base.setup["warmup_wave_s"]] + base.walls):
        _say(f"  wave {row['wave']}: {wall:.2f} s popped {row['n_popped']} fetched {row['n_fetched']} "
             f"candidates {row['n_candidates']} new {row['n_new']} frontier {row['frontier_size']} "
             f"seen {row['seen_size']}" + ("  (warm-up)" if row is base.warm_row else ""))
    urls = [r["n_popped"] for r in base.rows]
    e2e = stats.crawl_end_to_end(base.walls, urls, base.setup["setup_s"], rss)
    s = base.setup
    report("crawl_urls_per_s", e2e["crawl_urls_per_s"], "urls/s", f"{sum(urls)} urls over {len(urls)} timed waves")
    report("wave_p50_s", e2e["wave_p50_s"], "s", f"n={len(base.walls)} waves: "
           + ", ".join(f"{x:.2f}" for x in base.walls))
    report("setup_s", e2e["setup_s"], "s", f"session {s['session_s']:.2f} + register {s['register_s']:.2f} + "
           f"bootstrap {s['bootstrap_s']:.2f} + warm-up wave {s['warmup_wave_s']:.2f}")
    report("peak_rss_mb", e2e["peak_rss_mb"], "MB")
    failed = sum(1 for v in verdicts if v)
    report("error_rate", failed / len(verdicts), "ratio", f"{failed} of {len(verdicts)} waves failed their output check")
    for k, v in enumerate(verdicts, start=1):
        if v:
            _say(f"  check failed, wave {k}: {v}")
    _say(f"  output check: {'ok' if failed == 0 else 'FAILED'}")

    if not trace:
        return stats.result(verdicts, e2e, stats.END_TO_END)
    waves = []
    for row, (t0, t1) in zip(traced.rows, traced.spans):
        d = tr.wave_digest(row["wave"], t0, t1, jobs, stages, tracer.spans, row)
        accounted = sum(d[f"{layer}.wall_s"] for layer in tr.LAYERS) + d["crawler.driver.s"]
        _say(f"  traced wave {row['wave']}: wall {t1 - t0:.3f} s = driver {d['crawler.driver.s']:.3f} + "
             + " + ".join(f"{layer} {d[layer + '.wall_s']:.3f}" for layer in tr.LAYERS)
             + f" (accounted {accounted:.3f} s)")
        waves.append(d)
    overhead = statistics.median(traced.walls) / statistics.median(base.walls)
    layers = stats.per_layer_medians(waves, overhead)
    for name, unit in stats.PER_LAYER.items():
        report(name, layers[name], unit)
    return stats.result(verdicts, layers, stats.PER_LAYER)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an error, so the processes below are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host.require_program()
    host.prepare_env()
    from perfbench.inputs import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    try:
        out = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the stop finish
        host.stop_processes()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
