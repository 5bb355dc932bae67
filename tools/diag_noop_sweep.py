"""Config sweep for the Arrow-feed starvation behind the hybrid path's
round-2 scaling loss (BENCH/hybrid_rootcause.md).

Runs ONLY the no-op python stage (generate -> mapInPandas decode ->
count) under different configs, one fresh JVM per run.

Usage: python tools/diag_noop_sweep.py            # sweep
       python tools/diag_noop_sweep.py --once '<json cfg>'
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(os.environ.get("SPARK_GRAFT_DIAG_N", "50000000"))


def run_once(cfg: dict) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from raster_join_spark.session import get_spark
    from raster_join_spark.sources.pages import synth_points

    spark = get_spark(
        app_name="diag-noop",
        master=cfg["master"],
        extra_conf=cfg.get("conf") or {},
    )
    noop_schema = T.StructType([T.StructField("rows", T.LongType(), False)])

    def noop(batches):
        import pandas as pd

        nr = 0
        for pdf in batches:
            nr += len(pdf)
        yield pd.DataFrame({"rows": [nr]})

    def job():
        src = synth_points(spark, N, 256).select("x", "y")
        ntask = cfg.get("ntask")
        if ntask:
            src = src.coalesce(ntask)
        src.mapInPandas(noop, noop_schema).agg(F.sum("rows")).collect()

    # warm-up at small n
    src0 = synth_points(spark, 2_000_000, 256).select("x", "y")
    if cfg.get("ntask"):
        src0 = src0.coalesce(cfg["ntask"])
    src0.mapInPandas(noop, noop_schema).agg(F.sum("rows")).collect()

    times = []
    for _ in range(cfg.get("reps", 2)):
        t0 = time.perf_counter()
        job()
        times.append(round(time.perf_counter() - t0, 3))
    return {"cfg": cfg, "times": times, "best": min(times)}


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--once":
        print(json.dumps(run_once(json.loads(sys.argv[2]))))
        return
    cases = [
        {"name": "8t-base", "master": "local[8]", "cpus": "0-7"},
        {"name": "32t-base", "master": "local[32]", "cpus": "0-31"},
        {"name": "32t-notaskset", "master": "local[32]", "cpus": None},
        {"name": "32t-32task", "master": "local[32]", "cpus": "0-31", "ntask": 32},
        {"name": "32t-bigbatch", "master": "local[32]", "cpus": "0-31",
         "conf": {"spark.sql.execution.arrow.maxRecordsPerBatch": "1048576"}},
        {"name": "16t-base", "master": "local[16]", "cpus": "0-15"},
    ]
    for c in cases:
        cpus = c.pop("cpus", None)
        name = c.pop("name")
        cmd = [sys.executable, __file__, "--once", json.dumps(c)]
        if cpus:
            cmd = ["taskset", "-c", cpus] + cmd
        r = subprocess.run(cmd, capture_output=True, text=True)
        try:
            line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
            print(name, "->", line)
        except IndexError:
            print(name, "-> FAILED", r.stderr[-500:])


if __name__ == "__main__":
    main()
