"""Workload inputs: seeds come from the fixed graph, chosen by the seed."""

import pytest

from bingcrawler_spark.synth import (
    page_exists,
    page_host,
    page_html,
    page_url,
    redirect_stub_row,
    redirect_stub_url,
)
from perfbench.inputs import WORKLOADS, SynthPages, SynthRedirects, pick_seeds


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_seed_changes_the_seed_set_only(name):
    w = WORKLOADS[name]
    a, b = pick_seeds(w, 1), pick_seeds(w, 2)
    assert a == pick_seeds(w, 1)  # same seed, same inputs
    assert a != b and len(a) == len(b) == w.n_seeds
    for seeds in (a, b):
        urls = [u for u, _ in seeds]
        assert len(set(urls)) == len(urls)
        assert all(100 <= wt <= 110 for _, wt in seeds)
        for k, url in enumerate(urls):
            i = int(url.rsplit("/", 1)[1].split("?")[0])
            if w.stub_seed_every and k % w.stub_seed_every == 0:
                assert url == redirect_stub_url(i, w.n_hosts)
                assert redirect_stub_row(i, w.n_pages, w.n_hosts) is not None
            else:
                assert url == page_url(i, w.n_hosts) and page_exists(i, w.n_pages)
                assert "/private/" not in url and page_host(i, w.n_hosts) != 0


def test_synth_mappings_regenerate_the_graph():
    w = WORKLOADS["crawl_frontier"]
    pages = SynthPages(w, {})
    assert pages[page_url(12, w.n_hosts)] == page_html(12, w.n_pages, w.n_hosts, w.n_words)
    assert pages.get(page_url(5, w.n_hosts)) is None  # i % 37 == 5: a dead link
    assert pages.get(page_url(w.n_pages + 3, w.n_hosts)) is None  # outside the graph
    assert pages.get("http://elsewhere.example/p/1") is None
    assert SynthPages(w, {"u": b"x"})["u"] == b"x"

    redirects = SynthRedirects(w)
    stub = redirect_stub_row(4, w.n_pages, w.n_hosts)
    assert redirects[stub["url"]] == stub["location"]
    assert redirect_stub_url(5, w.n_hosts) not in redirects  # 5 % 17 != 4
    assert page_url(4, w.n_hosts) not in redirects
    assert redirect_stub_url(4, w.n_hosts) not in SynthRedirects(WORKLOADS["crawl_parse"])
