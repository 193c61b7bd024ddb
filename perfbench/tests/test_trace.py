"""The traced run's stage-to-layer attribution and wall accounting."""

import os

import pytest

from perfbench import trace


def _nodes(*pairs):
    return {(n, d) for n, d in pairs}


@pytest.mark.parametrize(
    "nodes,layer",
    [
        (_nodes(("ArrowEvalPython", ""), ("ShuffledHashJoin", "")), "functions.parse"),
        (_nodes(("Window", ""), ("Exchange", "")), "frontier.pop_wave"),
        (_nodes(("TakeOrderedAndProject", "")), "frontier.pop_wave"),
        (_nodes(("Scan parquet ", "InMemoryFileIndex[file:/w/in/pages]"),
                ("BroadcastHashJoin", "BroadcastHashJoin [url#1], [url#2], LeftSemi, BuildRight")),
         "crawler.fetch"),
        (_nodes(("ObjectHashAggregate", ""), ("Exchange", "")), "frontier.dedup_insert"),
        (_nodes(("Generate", "Generate posexplode(links#1)")), "frontier.dedup_insert"),
        (_nodes(("ShuffledHashJoin", "ShuffledHashJoin [curl#1], [url#2], LeftSemi, BuildRight")),
         "frontier.dedup_insert"),
        (_nodes(("Scan parquet ", "InMemoryFileIndex[file:/w/wh/seen/snap-00001]")), "frontier.dedup_insert"),
        (_nodes(("Exchange", ""), ("Execute InsertIntoHadoopFsRelationCommand", "")), "statestore.write"),
        (_nodes(("Scan parquet ", "InMemoryFileIndex[file:/w/wh/frontier/snap-00002]"),
                ("BroadcastHashJoin", "BroadcastHashJoin [host#1], [host#2], LeftOuter, BuildRight")),
         "frontier.pop_wave"),
        (_nodes(("Exchange", ""), ("InMemoryTableScan", "")), "spark.other"),
        (set(), "spark.other"),
    ],
)
def test_classify(nodes, layer):
    assert trace.classify(nodes, "/w/in/pages", "/w/wh") == layer


def _stage(i, layer, start, end):
    return trace.Stage(i, "perfbench/wave2", start, end, set(), [100], layer=layer)


def test_layer_walls_partition_the_wave():
    stages = [
        _stage(1, "crawler.fetch", 1.0, 3.0),
        _stage(2, "functions.parse", 2.0, 4.0),  # overlaps fetch for 1 s
        _stage(3, "statestore.write", 6.0, 7.0),
    ]
    jobs = [trace.Job(1, "perfbench/wave2", 0.5, 4.5), trace.Job(2, "perfbench/wave2", 6.0, 7.0)]
    out = trace.layer_walls(stages, jobs, 0.0, 8.0)
    assert out["crawler.fetch"] == pytest.approx(1.5)
    assert out["functions.parse"] == pytest.approx(1.5)
    assert out["statestore.write"] == pytest.approx(1.0)
    assert out["spark.other"] == pytest.approx(1.0)  # in a job, no stage running
    assert out["crawler.driver.s"] == pytest.approx(3.0)
    assert sum(out.values()) == pytest.approx(8.0)


def test_digest_attributes_known_single_stage_jobs(spark, event_log_dir, tmp_path):
    """A pandas-UDF projection and a parquet write, each one stage, run
    under a wave's job group: the digest must put each stage in its layer
    and count its task time there."""
    from pyspark.sql import functions as F

    from bingcrawler_spark.functions.simhash import simhash64_udf

    sc = spark.sparkContext
    wh = str(tmp_path / "wh")
    sc.setJobGroup("perfbench/wave7", "test")
    try:
        (spark.range(0, 256, 1, 2).select(simhash64_udf(F.col("id").cast("string")).alias("h"))
         .write.format("noop").mode("overwrite").save())
        sc.setJobGroup("perfbench/wave8/statestore.stage", "test")
        spark.range(0, 256, 1, 2).write.parquet(os.path.join(wh, "seen-like"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    jobs, stages = trace.read_event_log(trace.find_event_log(event_log_dir), "/nowhere/pages", wh)
    w7 = [s for s in stages.values() if s.job_group == "perfbench/wave7"]
    w8 = [s for s in stages.values() if s.job_group.startswith("perfbench/wave8")]
    assert [s.layer for s in w7] == ["functions.parse"]
    assert [s.layer for s in w8] == ["statestore.write"]
    assert len(w7[0].task_ms) == 2
    row = {"n_fetched": 256, "n_popped": 256, "n_new": 1, "n_candidates": 1}
    j7 = [j for j in jobs.values() if j.group == "perfbench/wave7"]
    d = trace.wave_digest(7, min(j.start for j in j7) - 0.5, max(j.end for j in j7) + 0.5, jobs, stages, [], row)
    assert d["functions.parse.task_s"] == pytest.approx(sum(w7[0].task_ms) / 1e3)
    assert d["crawler.stages"] == 1 and d["statestore.write.task_s"] == 0
    assert sum(d[f"{x}.wall_s"] for x in trace.LAYERS) + d["crawler.driver.s"] == pytest.approx(d["crawler.run_wave.s"])
