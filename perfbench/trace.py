"""The traced run: spans around the engine's layer entry points, Spark job
groups that tie every job to its wave, and a stdlib digest of Spark's JSON
event log that splits each wave among the engine's layers.

Spans are installed from here, by wrapping the public callables the wave
loop goes through (``CrawlEngine.run_wave``, ``SnapshotStore.stage /
promote / read``) for the duration of the traced waves; the engine's
sources are untouched.  ``stage`` runs in the wave's writer threads too, so
its span also sets the job group of the thread it runs in.

A stage of a wave's jobs belongs to one layer, chosen by the plan operators
that actually ran in it: an operator ran in a stage when one of its SQL
metrics was updated there (the stage's accumulables, matched against the
plans in the log).  The first matching rule wins:

  functions.parse        Python UDF evaluation (ArrowEvalPython & co.)
  frontier.pop_wave      the politeness windows and the top-k merge
  crawler.fetch          scans of the pages table (redirect hops included)
  frontier.dedup_insert  candidate explode, attempts aggregate, the
                         existence semi/anti joins, scans of the seen table
  statestore.write       the parquet writes of the snapshot tables
  frontier.pop_wave      scans of the frontier table (the pop's input)
  spark.other            anything else (exchanges of cached wave data,
                         schema listing jobs)

so an engine change that moves work between operators shows up in the
layer that now runs it, with no edit here.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

LAYERS = (
    "functions.parse",
    "frontier.pop_wave",
    "frontier.dedup_insert",
    "crawler.fetch",
    "statestore.write",
    "spark.other",
)

_UDF_NODES = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
              "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
              "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow"}
_POP_NODES = {"TakeOrderedAndProject", "Window", "WindowGroupLimit"}
_DEDUP_NODES = {"ObjectHashAggregate", "SortAggregate", "HashAggregate", "Generate"}
_WRITE_NODES = {"WriteFiles", "Execute InsertIntoHadoopFsRelationCommand"}


def classify(nodes: set[tuple[str, str]], pages_path: str, warehouse: str) -> str:
    """Layer of a stage from the (nodeName, detail) of the operators that
    ran in it; detail is a scan's location, else the operator's plan line."""
    names = {n for n, _ in nodes}

    def scans(path: str) -> bool:
        return any(n.startswith("Scan ") and path in d for n, d in nodes)

    if names & _UDF_NODES:
        return "functions.parse"
    if names & _POP_NODES:
        return "frontier.pop_wave"
    if scans(pages_path):
        return "crawler.fetch"
    if (
        names & _DEDUP_NODES
        or scans(os.path.join(warehouse, "seen"))
        or any(n.endswith("Join") and (", LeftAnti," in d or ", LeftSemi," in d) for n, d in nodes)
    ):
        return "frontier.dedup_insert"
    if names & _WRITE_NODES:
        return "statestore.write"
    if scans(os.path.join(warehouse, "frontier")):
        return "frontier.pop_wave"
    return "spark.other"


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    wave: int
    start: float
    end: float
    files: int = 0  # statestore.read: files the read plan covers


@dataclass
class Tracer:
    """Records spans and tags Spark jobs with their wave's job group."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    wave: int = 0
    _saved: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def group(self, suffix: str = "") -> str:
        return f"perfbench/wave{self.wave}{suffix}"

    def _record(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def _wrap(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def install(self) -> None:
        from bingcrawler_spark.crawler import CrawlEngine
        from bingcrawler_spark.statestore import SnapshotStore

        sc = self.spark.sparkContext
        tracer = self

        def timed(name, orig, files=None):
            def call(*a, **k):
                t0 = time.time()
                try:
                    out = orig(*a, **k)
                finally:
                    t1 = time.time()
                n = files(out) if files is not None else 0
                tracer._record(Span(name, tracer.wave, t0, t1, n))
                return out

            return call

        def run_wave(orig):
            def call(eng, *a, **k):
                tracer.wave = eng.wave + 1
                sc.setJobGroup(tracer.group(), "perfbench wave")
                try:
                    return timed("crawler.run_wave", orig)(eng, *a, **k)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)

            return call

        def stage(orig):
            # stage() runs in the wave's writer threads too: tag the jobs of
            # the calling thread, then restore that thread's group
            def call(store, table, *a, **k):
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(tracer.group("/statestore.stage"), table)
                try:
                    return timed("statestore.stage", orig)(store, table, *a, **k)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", prev)

            return call

        self._wrap(CrawlEngine, "run_wave", run_wave)
        self._wrap(SnapshotStore, "stage", stage)
        self._wrap(SnapshotStore, "promote", lambda o: timed("statestore.promote", o))
        self._wrap(SnapshotStore, "read",
                   lambda o: timed("statestore.read", o, lambda df: len(df.inputFiles())))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


# ------------------------------------------------------------- event log


@dataclass
class Stage:
    id: int
    job_group: str
    start: float
    end: float
    nodes: set
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0
    bytes_written: int = 0
    layer: str = "spark.other"


@dataclass
class Job:
    id: int
    group: str
    start: float
    end: float


_SKIP = ('{"Event":"SparkListenerTaskStart"', '{"Event":"SparkListenerBlockManager',
         '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"')


def _plan_nodes(info: dict, acc: dict) -> None:
    name = info.get("nodeName", "")
    meta = info.get("metadata") or {}
    detail = meta.get("Location", "") if name.startswith("Scan ") else info.get("simpleString", "")[:200]
    for m in info.get("metrics", []):
        acc[m["accumulatorId"]] = (name, detail)
    for child in info.get("children", []):
        _plan_nodes(child, acc)


def read_event_log(path: str, pages_path: str, warehouse: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    acc: dict[int, tuple[str, str]] = {}
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_group: dict[int, str] = {}
    stage_acc: dict[int, list[int]] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as f:
        for line in f:
            if line.startswith(_SKIP):
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                _plan_nodes(e["sparkPlanInfo"], acc)
            elif ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs[e["Job ID"]] = Job(e["Job ID"], group, e["Submission Time"] / 1e3, 0.0)
                for s in e["Stage IDs"]:
                    stage_group[s] = group
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = Stage(
                    sid, stage_group.get(sid, ""), si["Submission Time"] / 1e3,
                    si["Completion Time"] / 1e3, set(),
                )
                stage_acc[sid] = [a["ID"] for a in si.get("Accumulables", [])]
                # tasks end before their stage completes: fold them in now
                for t in tasks.pop(sid, []):
                    _fold_task(stages[sid], t)
            elif ev == "SparkListenerTaskEnd":
                tasks.setdefault(e["Stage ID"], []).append(e.get("Task Metrics") or {})
    for sid, ids in stage_acc.items():
        st = stages[sid]
        st.nodes = {acc[i] for i in ids if i in acc}
        st.layer = classify(st.nodes, pages_path, warehouse)
    return jobs, stages


def _fold_task(st: Stage, m: dict) -> None:
    st.task_ms.append(int(m.get("Executor Run Time", 0)))
    st.gc_ms += int(m.get("JVM GC Time", 0))
    st.shuffle_write += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    st.spill += int(m.get("Disk Bytes Spilled", 0))
    st.bytes_written += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_walls(stages: list[Stage], jobs: list[Job], t0: float, t1: float) -> dict[str, float]:
    """Split the wave's wall [t0, t1] among the layers: each instant a stage
    runs is shared equally by the running stages' layers; an instant inside
    a job with no stage running counts as spark.other; the rest, where no
    job runs, is crawler.driver.s.  The parts sum to t1 - t0."""
    cuts = sorted({t0, t1} | {min(max(x, t0), t1) for s in stages for x in (s.start, s.end)}
                  | {min(max(x, t0), t1) for j in jobs for x in (j.start, j.end)})
    out = dict.fromkeys(LAYERS, 0.0)
    out["crawler.driver.s"] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        running = [s.layer for s in stages if s.start <= mid < s.end]
        if running:
            for layer in running:
                out[layer] += (b - a) / len(running)
        elif any(j.start <= mid < j.end for j in jobs):
            out["spark.other"] += b - a
        else:
            out["crawler.driver.s"] += b - a
    return out


def wave_digest(wave: int, t0: float, t1: float, jobs: dict[int, Job], stages: dict[int, Stage],
                spans: list[Span], row: dict) -> dict[str, float]:
    """Per-layer numbers of one traced wave."""
    prefix = f"perfbench/wave{wave}"
    wjobs = [j for j in jobs.values() if j.group == prefix or j.group.startswith(prefix + "/")]
    wstages = [s for s in stages.values() if s.job_group == prefix or s.job_group.startswith(prefix + "/")]
    wspans = [s for s in spans if s.wave == wave]
    by_layer = {layer: [s for s in wstages if s.layer == layer] for layer in LAYERS}

    def task_s(layer):
        return sum(sum(s.task_ms) for s in by_layer[layer]) / 1e3

    def span_wall(name):
        return _union([(s.start, s.end) for s in wspans if s.name == name])

    fetched = max(int(row["n_fetched"]), 1)
    all_tasks = [t for s in wstages for t in s.task_ms]
    heaviest = max(wstages, key=lambda s: sum(s.task_ms), default=None)
    walls = layer_walls(wstages, wjobs, t0, t1)
    mb = 1024.0 * 1024.0
    out = {
        "functions.parse.task_s": task_s("functions.parse"),
        "functions.parse.task_s_per_page": task_s("functions.parse") / fetched,
        "frontier.pop_wave.task_s": task_s("frontier.pop_wave"),
        "frontier.pop_wave.max_task_s": max((t for s in by_layer["frontier.pop_wave"] for t in s.task_ms), default=0) / 1e3,
        "frontier.dedup_insert.task_s": task_s("frontier.dedup_insert"),
        "frontier.dedup_insert.shuffle_mb": sum(s.shuffle_write for s in by_layer["frontier.dedup_insert"]) / mb,
        "frontier.dedup_insert.new_ratio": row["n_new"] / max(int(row["n_candidates"]), 1),
        "frontier.candidates_per_page": row["n_candidates"] / fetched,
        "crawler.fetch.task_s": task_s("crawler.fetch"),
        "crawler.fetch.hit_ratio": row["n_fetched"] / max(int(row["n_popped"]), 1),
        "statestore.stage.s": span_wall("statestore.stage"),
        "statestore.promote.s": sum(s.end - s.start for s in wspans if s.name == "statestore.promote"),
        "statestore.write.task_s": task_s("statestore.write"),
        "statestore.bytes_per_url": sum(s.bytes_written for s in wstages) / max(int(row["n_popped"]), 1),
        "statestore.files_read": float(sum(s.files for s in wspans if s.name == "statestore.read")),
        "crawler.run_wave.s": t1 - t0,
        "crawler.driver.s": walls["crawler.driver.s"],
        "crawler.jobs": float(len(wjobs)),
        "crawler.stages": float(len(wstages)),
        "spark.shuffle_mb": sum(s.shuffle_write for s in wstages) / mb,
        "spark.spill_mb": sum(s.spill for s in wstages) / mb,
        "spark.gc_s": sum(s.gc_ms for s in wstages) / 1e3,
        "spark.skew": (max(heaviest.task_ms) / max(statistics.median(heaviest.task_ms), 1))
        if heaviest and heaviest.task_ms else 1.0,
        "spark.task_s": sum(all_tasks) / 1e3,
    }
    for layer in LAYERS:
        out[f"{layer}.wall_s"] = walls[layer]
    return out


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]
