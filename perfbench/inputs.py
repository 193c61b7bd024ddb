"""Workload definitions and the inputs they are generated from.

The crawl graph comes from ``bingcrawler_spark.synth`` (a pure function of
the page index).  Its pages and robots tables are generated once per
parameter set into ``.perfbench_work/inputs`` by a separate process, so
neither generation time nor the JVM warmth it leaves counts towards any
run's set-up.  The workload
seed only picks which pages of that fixed graph seed the crawl; the engine
sees nothing but the resulting seed list.

    python3 -m perfbench.inputs '<workload as JSON>'   # generate its tables
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
from collections.abc import Iterator, Mapping
from dataclasses import asdict, dataclass

from perfbench import host


MIN_TIMED_WAVES = 2  # a median needs two


@dataclass(frozen=True)
class CrawlWorkload:
    name: str
    why: str
    n_pages: int
    n_words: int  # words per body paragraph; two paragraphs per page
    redirects: bool  # pages table carries 301/302 stubs (S4 fetch path)
    wave_size: int
    n_seeds: int
    stub_seed_every: int  # every k-th seed is a redirect stub (0: none)
    nominal_wave_s: float  # wave wall on a 4 vCPU host; --seconds / this = waves
    n_hosts: int = 1024

    def table_key(self) -> str:
        kind = "redir" if self.redirects else "plain"
        return f"pages_{kind}_{self.n_pages}p_{self.n_words}w_{self.n_hosts}h"

    def timed_waves(self, seconds: float) -> int:
        """The timed work is a fixed number of waves, so both sides of a
        comparison crawl the same state; --seconds buys about that much
        wall at the nominal wave time."""
        return max(MIN_TIMED_WAVES, math.ceil(seconds / self.nominal_wave_s))


# Sizes: local[4], 15 GB host, and the time one run may take.  Seeds are
# fewer than a wave so the warm-up wave (wave 1, which pops only the seeds
# and is cold) stays cheap, yet they yield more than a wave of candidates,
# so every timed wave is full.
WORKLOADS = {
    w.name: w
    for w in [
        CrawlWorkload(
            name="crawl_parse",
            why="fat ~17 KB pages in 1536-url waves: the parse UDFs and the "
            "pages scan carry the wave; predicts parse-layer changes",
            n_pages=14_000,
            n_words=1_000,
            redirects=False,
            wave_size=1_536,
            n_seeds=800,
            stub_seed_every=0,
            nominal_wave_s=6.0,
        ),
        CrawlWorkload(
            name="crawl_frontier",
            why="thin pages with redirect stubs in 1024-url waves: pop, "
            "plan, dedup anti-join and snapshot commits carry the wave",
            n_pages=30_000,
            n_words=30,
            redirects=True,
            wave_size=1_024,
            n_seeds=400,
            stub_seed_every=8,
            nominal_wave_s=6.5,
        ),
    ]
}


def input_dir(w: CrawlWorkload) -> str:
    return os.path.join(host.WORK, "inputs", w.table_key())


def pages_dir(w: CrawlWorkload) -> str:
    return os.path.join(input_dir(w), "pages")


def robots_dir(w: CrawlWorkload) -> str:
    return os.path.join(input_dir(w), "robots")


def _marker(w: CrawlWorkload) -> str:
    return os.path.join(input_dir(w), "_PERFBENCH_PARAMS.json")


def _params(w: CrawlWorkload) -> dict:
    return {k: v for k, v in asdict(w).items() if k in ("n_pages", "n_words", "redirects", "n_hosts")}


def have_inputs(w: CrawlWorkload) -> bool:
    try:
        with open(_marker(w)) as f:
            return json.load(f) == _params(w)
    except (OSError, ValueError):
        return False


def ensure_inputs(w: CrawlWorkload) -> None:
    """Generate the input tables in a child process unless they exist."""
    if have_inputs(w):
        return
    child = subprocess.Popen(
        [sys.executable, "-m", "perfbench.inputs", json.dumps(asdict(w))],
        cwd=host.ROOT,
        env=dict(os.environ),
    )
    try:
        rc = child.wait(timeout=800)
    finally:
        if child.poll() is None:
            child.terminate()  # it stops its own JVM before it exits
            child.wait()
    if rc != 0:
        raise subprocess.CalledProcessError(rc, child.args)
    if not have_inputs(w):
        raise RuntimeError(f"input tables for {w.name} were not generated")


def generate_inputs(w: CrawlWorkload) -> None:
    """The pages table and the per-host robots table, as parquet: the
    engine reads both the way a crawl reads its stored inputs."""
    from bingcrawler_spark.synth import robots_df, synth_pages_df, synth_pages_with_redirects_df

    spark = host.get_session(f"perfbench-gen-{w.name}")
    try:
        gen = synth_pages_with_redirects_df if w.redirects else synth_pages_df
        out = input_dir(w)
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen(spark, w.n_pages, w.n_hosts, n_words=w.n_words).write.parquet(os.path.join(tmp, "pages"))
        robots_df(spark, w.n_hosts).write.parquet(os.path.join(tmp, "robots"))
        with open(os.path.join(tmp, os.path.basename(_marker(w))), "w") as f:
            json.dump(_params(w), f)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    finally:
        spark.stop()


def pick_seeds(w: CrawlWorkload, seed: int) -> list[tuple[str, int]]:
    """(url, weight) seeds drawn from the generated graph by the workload
    seed: distinct existing, robots-allowed pages off the hot host (whose
    politeness budget would hold most of its seeds back from wave 1), and
    on redirect workloads every k-th one a 301/302 stub, so fetch follows
    chains."""
    from bingcrawler_spark.synth import (
        page_exists,
        page_host,
        page_url,
        redirect_stub_row,
        redirect_stub_url,
    )

    rng = random.Random(f"{w.name}:{seed}")
    picked: set[int] = set()
    out: list[tuple[str, int]] = []
    while len(out) < w.n_seeds:
        i = rng.randrange(w.n_pages)
        if i in picked or page_host(i, w.n_hosts) == 0:
            continue
        stub = w.stub_seed_every and len(out) % w.stub_seed_every == 0
        if stub:
            if redirect_stub_row(i, w.n_pages, w.n_hosts) is None:
                continue
            url = redirect_stub_url(i, w.n_hosts)
        else:
            url = page_url(i, w.n_hosts)
            if not page_exists(i, w.n_pages) or "/private/" in url:
                continue
        picked.add(i)
        out.append((url, 100 + rng.randrange(11)))
    return out


_PAGE_RE = re.compile(r"^http://host\d+\.example(?:/private)?/p/(\d+)(?:\?a=1&b=2)?$")
_STUB_RE = re.compile(r"^http://host\d+\.example/r/(\d+)$")


class SynthPages(Mapping):
    """url -> html of the synthetic graph, for the oracle.  Pages the
    engine fetched are preloaded from the very table the engine read;
    any other page is regenerated from its index on demand."""

    def __init__(self, w: CrawlWorkload, preloaded: dict[str, bytes]):
        self.w = w
        self.pre = preloaded

    def __getitem__(self, url: str) -> bytes:
        if url in self.pre:
            return self.pre[url]
        from bingcrawler_spark.synth import page_exists, page_html, page_url

        m = _PAGE_RE.match(url)
        i = int(m.group(1)) if m else -1
        if m and page_exists(i, self.w.n_pages) and page_url(i, self.w.n_hosts) == url:
            return page_html(i, self.w.n_pages, self.w.n_hosts, self.w.n_words)
        raise KeyError(url)

    def __iter__(self) -> Iterator[str]:
        raise TypeError("the synthetic graph is not enumerated")

    def __len__(self) -> int:
        return self.w.n_pages


class SynthRedirects(Mapping):
    """url -> Location for the graph's redirect stubs (empty without)."""

    def __init__(self, w: CrawlWorkload):
        self.w = w

    def __getitem__(self, url: str) -> str:
        from bingcrawler_spark.synth import redirect_stub_row

        m = _STUB_RE.match(url) if self.w.redirects else None
        row = m and redirect_stub_row(int(m.group(1)), self.w.n_pages, self.w.n_hosts)
        if not row or row["url"] != url:
            raise KeyError(url)
        return row["location"]

    def __iter__(self) -> Iterator[str]:
        raise TypeError("the synthetic graph is not enumerated")

    def __len__(self) -> int:
        return self.w.n_pages


def read_html(w: CrawlWorkload, urls: set[str]) -> dict[str, bytes]:
    """html of the given urls from the generated pages table."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    table = ds.dataset(pages_dir(w), format="parquet").to_table(
        columns=["url", "html"],
        filter=pc.field("url").isin(sorted(urls)) & pc.field("html").is_valid(),
    )
    return dict(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host.require_program()
    host.prepare_env()
    try:
        generate_inputs(CrawlWorkload(**json.loads(sys.argv[1])))
    finally:
        host.stop_processes()
