"""Tiny-size runs of every workload, end to end through the engine and the
oracle check, plus the traced run's seed independence."""

import dataclasses
import os
import subprocess
import sys
import time

import pytest

from perfbench import crawl, host, inputs, trace


def tiny(name: str) -> inputs.CrawlWorkload:
    w = inputs.WORKLOADS[name]
    return dataclasses.replace(w, n_pages=400, n_words=min(w.n_words, 200), n_hosts=8, wave_size=24, n_seeds=8)


@pytest.mark.parametrize("name", list(inputs.WORKLOADS))
def test_tiny_run_matches_the_oracle(spark, tmp_path, name):
    w = tiny(name)
    inputs.ensure_inputs(w)
    seeds = inputs.pick_seeds(w, 1)
    run = crawl.run_crawl(spark, w, seeds, 2, str(tmp_path / "wh"), time.perf_counter())
    assert [r["n_popped"] for r in run.rows] == [w.wave_size] * 2
    assert crawl.check_crawl(w, seeds, run) == ["", "", ""]
    # a run that diverges from the oracle is caught, wave by wave
    run.state["pop_log"] = [p for p in run.state["pop_log"] if p[0] != 2]
    verdicts = crawl.check_crawl(w, seeds, run)
    assert verdicts[0] == "" and "pop rows differ" in verdicts[1]


def test_seed_changes_inputs_not_code_path(spark, event_log_dir, tmp_path):
    """Two seeds: different seed lists, yet the same layers run the same
    operators (adaptive execution may still split or skip a stage
    differently, so stage counts are not compared)."""
    w = tiny("crawl_frontier")
    inputs.ensure_inputs(w)
    shapes, seed_lists = [], []
    for seed in (1, 2):
        seeds = inputs.pick_seeds(w, seed)
        tracer = trace.Tracer(spark)
        wh = str(tmp_path / f"wh{seed}")
        run = crawl.run_crawl(spark, w, seeds, 2, wh, time.perf_counter(), tracer=tracer)
        _, stages = trace.read_event_log(trace.find_event_log(event_log_dir), inputs.pages_dir(w), wh)
        # both crawls trace waves 2 and 3: keep this crawl's stages by time
        ops: dict[str, set] = {}
        for st in stages.values():
            if st.job_group.startswith("perfbench/wave") and any(t0 <= st.start <= t1 for t0, t1 in run.spans):
                ops.setdefault(st.layer, set()).update(n for n, _ in st.nodes if not n.startswith("WholeStageCodegen"))
        shapes.append(ops)
        seed_lists.append(seeds)
    assert seed_lists[0] != seed_lists[1]
    assert shapes[0] == shapes[1]


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(host.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(host.ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_parse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
