"""Metric names, units and the arithmetic that turns runs into results."""

from __future__ import annotations

import statistics

# end-to-end metrics, measured with tracing off: name -> unit
END_TO_END = {
    "crawl_urls_per_s": "urls/s",  # urls settled per second over the timed waves
    "wave_p50_s": "s",  # median wall of a timed wave
    "setup_s": "s",  # session + input registration + bootstrap + warm-up wave
    "peak_rss_mb": "MB",  # driver JVM VmHWM + this process's peak RSS
}

# per-layer metrics of the traced run (median over its timed waves)
PER_LAYER = {
    "functions.parse.task_s": "s",
    "functions.parse.task_s_per_page": "s",
    "frontier.pop_wave.task_s": "s",
    "frontier.pop_wave.max_task_s": "s",
    "frontier.dedup_insert.task_s": "s",
    "frontier.dedup_insert.shuffle_mb": "MB",
    "frontier.dedup_insert.new_ratio": "ratio",
    "frontier.candidates_per_page": "count",
    "crawler.fetch.task_s": "s",
    "crawler.fetch.hit_ratio": "ratio",
    "statestore.stage.s": "s",
    "statestore.promote.s": "s",
    "statestore.write.task_s": "s",
    "statestore.bytes_per_url": "B",
    "statestore.files_read": "count",
    "crawler.run_wave.s": "s",
    "crawler.driver.s": "s",
    "crawler.jobs": "count",
    "crawler.stages": "count",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.skew": "ratio",
    "spark.task_s": "s",
    "functions.parse.wall_s": "s",
    "frontier.pop_wave.wall_s": "s",
    "frontier.dedup_insert.wall_s": "s",
    "crawler.fetch.wall_s": "s",
    "statestore.write.wall_s": "s",
    "spark.other.wall_s": "s",
    "trace_overhead": "ratio",
}


def crawl_end_to_end(walls: list[float], urls: list[int], setup_s: float, rss_mb: float) -> dict[str, float]:
    """End-to-end numbers of one crawl's timed waves."""
    if not walls or len(walls) != len(urls):
        raise ValueError("one url count per timed wave is needed")
    return {
        "crawl_urls_per_s": sum(urls) / sum(walls),
        "wave_p50_s": statistics.median(walls),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }


def per_layer_medians(waves: list[dict[str, float]], trace_overhead: float) -> dict[str, float]:
    out = {name: statistics.median(w[name] for w in waves) for name in PER_LAYER if name != "trace_overhead"}
    out["trace_overhead"] = trace_overhead
    return out


def result(verdicts: list[str], metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's last output line: every verdict is one attempted
    operation, a non-empty verdict a failed one."""
    if not verdicts:
        raise ValueError("no operation was attempted")
    if set(metrics) != set(units):
        raise ValueError(f"metrics {sorted(set(metrics) ^ set(units))} missing or unexpected")
    failed = sum(1 for v in verdicts if v)
    return {
        "correct": failed == 0,
        "attempted": len(verdicts),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
