"""Drive one crawl through the engine's public entry points and check it.

A crawl is: register the inputs, ``CrawlEngine.bootstrap`` the seeds, run
one warm-up wave (wave 1 pops only the seeds and pays the JVM's and the
Python workers' cold start), then the timed waves, one after another from a
single client.  Every output check runs after the timed waves.
"""

from __future__ import annotations

import time
from collections import defaultdict
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field
from multiprocessing import get_context

from perfbench import host
from perfbench.inputs import CrawlWorkload, SynthPages, SynthRedirects, pages_dir, read_html, robots_dir


@dataclass
class CrawlRun:
    setup: dict[str, float]  # seconds per set-up step
    warm_row: dict
    rows: list[dict] = field(default_factory=list)  # engine metrics row per timed wave
    spans: list[tuple[float, float]] = field(default_factory=list)  # client-side (start, end) per timed wave
    state: dict | None = None
    collect_s: float = 0.0  # reading the final state back for the checks

    @property
    def walls(self) -> list[float]:
        return [t1 - t0 for t0, t1 in self.spans]


def register_inputs(spark, w: CrawlWorkload):
    return spark.read.parquet(pages_dir(w)), spark.read.parquet(robots_dir(w))


def run_crawl(spark, w: CrawlWorkload, seeds, n_timed: int, warehouse: str, t_start: float, tracer=None) -> CrawlRun:
    """Set up and run ``n_timed`` waves.  ``t_start`` is when set-up began
    (before the session started); set-up ends after the warm-up wave."""
    from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
    from bingcrawler_spark.statestore import SnapshotStore

    t = time.perf_counter()
    setup = {"session_s": t - t_start}
    pages, robots = register_inputs(spark, w)
    setup["register_s"] = time.perf_counter() - t
    eng = CrawlEngine(
        spark,
        SnapshotStore(spark, warehouse),
        pages,
        robots,
        CrawlConfig(wave_size=w.wave_size, n_partitions=host.n_cpus()),
    )
    t = time.perf_counter()
    eng.bootstrap(seeds)
    setup["bootstrap_s"] = time.perf_counter() - t
    t = time.perf_counter()
    warm = eng.run_wave()
    setup["warmup_wave_s"] = time.perf_counter() - t
    setup["setup_s"] = time.perf_counter() - t_start
    run = CrawlRun(setup=setup, warm_row=warm)
    if tracer is not None:
        tracer.install()
    try:
        for _ in range(n_timed):
            t0 = time.time()
            row = eng.run_wave()
            t1 = time.time()
            if row.get("done"):
                raise RuntimeError(f"crawl ran out of frontier at wave {row['wave']}")
            run.rows.append(row)
            run.spans.append((t0, t1))
    finally:
        if tracer is not None:
            tracer.uninstall()
    t = time.perf_counter()
    run.state = collect_state(eng)
    run.collect_s = time.perf_counter() - t
    return run


def _seen_tuple(r) -> tuple:
    return (
        r["url"], r["host"], r["weight"], r["depth"], r["discovery_wave"],
        tuple(r["referrers"]), tuple(sorted((r["messages"] or {}).items())),
        r["status"], r["simhash"], r["settle_wave"],
    )


def _frontier_tuple(r) -> tuple:
    return (
        r["url"], r["host"], r["weight"], r["depth"], r["discovery_wave"],
        tuple(r["referrers"]), tuple(sorted((r["messages"] or {}).items())),
    )


def collect_state(eng) -> dict:
    """Final seen set, frontier and pop log as plain Python values, and the
    committed table sizes (the referrer merge keeps one row per url)."""
    seen_cols = ["url", "host", "weight", "depth", "discovery_wave", "referrers",
                 "messages", "status", "simhash", "settle_wave"]
    seen = [_seen_tuple(r) for r in eng.seen().select(*seen_cols).collect()]
    frontier = [_frontier_tuple(r) for r in eng.frontier().select(*seen_cols[:7]).collect()]
    return {
        "pop_log": [(r["wave"], r["pop_rank"], r["url"]) for r in eng.pop_log().collect()],
        "seen": set(seen),
        "frontier": set(frontier),
        "seen_rows": len(seen),
        "frontier_rows": len(frontier),
    }


# ---------------------------------------------------------------- checks


def _parse_page(item: tuple[str, bytes]) -> tuple:
    from bingcrawler_spark.functions.extract import py_extract_links, py_extract_text
    from bingcrawler_spark.functions.simhash import py_simhash64

    url, html = item
    text = py_extract_text(html)
    return url, text, py_extract_links(html.decode("utf-8", "replace"), url), py_simhash64(text)


class _Memo:
    """Results of the oracle's own parse functions, computed up front in
    parallel for the pages the engine fetched; any other call computes."""

    def __init__(self, fn, table: dict):
        self.fn, self.table = fn, table

    def __call__(self, *args):
        key = args if len(args) > 1 else args[0]
        hit = self.table.get(key)
        return hit if hit is not None else self.fn(*args)


def run_oracle(w: CrawlWorkload, seeds, n_waves: int, fetched_urls: set[str]):
    """OracleCrawl over the same graph, seeds and wave size.  The engine's
    defaults (depth cap, child weight, per-host budgets from robots) are the
    oracle's defaults too."""
    from bingcrawler_spark import oracle as O
    from bingcrawler_spark.synth import robots_rows

    html = read_html(w, fetched_urls)
    ctx = get_context("spawn")
    with ProcessPoolExecutor(max_workers=host.n_cpus(), mp_context=ctx) as pool:
        parsed = list(pool.map(_parse_page, html.items(), chunksize=64))
    texts = {html[u]: t for u, t, _, _ in parsed}
    links = {(html[u].decode("utf-8", "replace"), u): ls for u, _, ls, _ in parsed}
    sims = {t: s for _, t, _, s in parsed}
    saved = (O.py_extract_text, O.py_extract_links, O.py_simhash64)
    O.py_extract_text = _Memo(saved[0], texts)
    O.py_extract_links = _Memo(saved[1], links)
    O.py_simhash64 = _Memo(saved[2], sims)
    try:
        o = O.OracleCrawl(
            SynthPages(w, html),
            {r["host"]: (r["disallow_prefixes"], r["crawl_budget"]) for r in robots_rows(w.n_hosts)},
            redirects=SynthRedirects(w),
        )
        o.bootstrap(seeds)
        o.run(n_waves, w.wave_size)
    finally:
        O.py_extract_text, O.py_extract_links, O.py_simhash64 = saved
    return o


def _by_wave(pop_log, seen, frontier) -> dict[int, dict[str, set]]:
    out: dict[int, dict[str, set]] = defaultdict(lambda: defaultdict(set))
    for p in pop_log:
        out[p[0]]["pop"].add(p)
    for s in seen:
        out[s[9]]["seen"].add(s)  # settle_wave
    for f in frontier:
        out[f[4]]["frontier"].add(f)  # discovery_wave
    return out


def _wave_verdicts(rows: list[dict], state: dict, ref: dict[int, dict[str, set]], ref_name: str) -> list[str]:
    got = _by_wave(state["pop_log"], state["seen"], state["frontier"])
    verdicts = []
    for k, row in enumerate(rows, start=1):
        bad = []
        if row["n_fetched"] + row["n_failed"] != row["n_popped"]:
            bad.append("n_fetched + n_failed != n_popped")
        for part in ("pop", "seen", "frontier"):
            if got[k][part] != ref[k][part]:
                bad.append(f"{part} rows differ from the {ref_name}")
        if k == len(rows):
            if row["seen_size"] != state["seen_rows"] or row["frontier_size"] != state["frontier_rows"]:
                bad.append("lineage sizes differ from the table counts")
            # seeds still in the frontier were discovered at bootstrap (wave 0)
            if got[0]["frontier"] != ref[0]["frontier"]:
                bad.append(f"seed rows differ from the {ref_name}")
        verdicts.append("; ".join(bad))
    return verdicts


def check_crawl(w: CrawlWorkload, seeds, run: CrawlRun) -> list[str]:
    """One verdict per wave run (warm-up included): '' when the wave's
    outputs are right, else what is wrong.  A wave is right when its metrics
    row holds n_fetched + n_failed == n_popped, and the urls it popped, the
    seen rows it settled and the frontier rows it discovered equal
    OracleCrawl's for the same inputs; the last wave also answers for the
    lineage sizes matching the committed table counts."""
    rows = [run.warm_row] + run.rows
    fetched = {t[0] for t in run.state["seen"] if t[7] == 1}
    o = run_oracle(w, seeds, len(rows), fetched)
    ref = _by_wave(o.pop_log, o.seen_tuples(), o.frontier_tuples())
    return _wave_verdicts(rows, run.state, ref, "oracle")


def compare_runs(rerun: CrawlRun, base: CrawlRun) -> list[str]:
    """Verdicts for the waves of a traced rerun of the same crawl: tracing
    may not change what a wave produces, so each must equal the checked
    first crawl's."""
    st = base.state
    ref = _by_wave(st["pop_log"], st["seen"], st["frontier"])
    return _wave_verdicts([rerun.warm_row] + rerun.rows, rerun.state, ref, "first crawl")
