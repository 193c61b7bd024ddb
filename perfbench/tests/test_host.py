"""host.stop_processes: nothing a run started outlives it."""

import os
import subprocess
import sys

from perfbench import host

SCRIPT = r"""
import json, os, sys
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

from perfbench import host

if __name__ == "__main__":
    host.require_program()
    host.prepare_env()
    spark = host.get_session("perfbench-stop-test")
    from pyspark.sql import functions as F

    double = F.udf(lambda x: x * 2, "long")
    assert spark.range(100).repartition(2).select(F.sum(double("id"))).first()[0] == 9900
    with ProcessPoolExecutor(2, mp_context=get_context("spawn")) as pool:
        assert list(pool.map(abs, [-1, -2])) == [1, 2]
    before = host._descendants()
    jvm = spark.sparkContext._gateway.proc.pid
    host.stop_processes()
    print(json.dumps({"before": sorted(before), "jvm": jvm, "after": sorted(host._descendants()),
                      "alive": [p for p, s in before.items() if host._alive(p, s)]}))
"""


def test_stop_processes_ends_jvm_workers_and_tracker():
    import json

    p = subprocess.run([sys.executable, "-c", SCRIPT], cwd=host.ROOT, capture_output=True,
                       text=True, timeout=170, env=dict(os.environ, PYTHONPATH=host.ROOT))
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    # the JVM, at least one Python worker and the resource tracker were running
    assert out["jvm"] in out["before"] and len(out["before"]) >= 3
    assert out["after"] == [] and out["alive"] == []
