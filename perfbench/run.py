"""Closed-loop benchmark of raster_join_spark: one client thread, one
SparkSession on a fixed local[N] master.

    python3 perfbench/run.py --master 'local[4]' --workload interactive_agg \\
        --seed 1 --seconds 5 --trace 0

Prints a report line (sample counts, tail percentile, error rate, host
diagnostics; with --trace 1 also the per-request layer table), then, as
the last line, one JSON object {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 adds a
traced phase and reports the per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

sys.dont_write_bytecode = True  # runs leave no __pycache__ in the checkout

import numpy as np  # noqa: E402

import host  # noqa: E402
import reference as ref  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARM_DOCS = 3_000

SPAN_LAYERS = (
    "geo.polygons.from_list_s",
    "geo.classify.tables_s",
    "operators.spatial_join.init_s",
    "operators.spatial_join.plan_s",
    "operators.spatial_join.exec_s.raster",
    "operators.spatial_join.exec_s.index",
    "operators.spatial_join.exec_s.hybrid",
    "operators.spatial_join.exec_s.errorbounds",
    "operators.spatial_join.exec_s.assign",
    "plans.query.execute_query_s",
    "plans.query.execute_function_s",
    "operators.knn.knn_join_bulk_s",
)
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "jvm_gc_s": "s",
    "python_stage_run_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "input_records": "count", "task_wait_s": "s", "driver_only_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--master", required=True, help="fixed Spark master, e.g. local[4]")
    ap.add_argument("--workload", required=True, choices=["interactive_agg", "bulk_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum timed window; whole blocks run")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, default=100_000, help="pages in the synthesized table")
    return ap.parse_args(argv)


def hermetic_env(tmp: str) -> None:
    """Spark's scratch space and every temp file stay inside ``tmp``
    (removed at exit); Python workers import the package from ROOT."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files in tmp, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = tmp


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        # The engine's default (24g) lets G1 commit up to 10 GB in a
        # bulk_pipeline run, as GC timing decides; see README.md.
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def percentiles(lat: list[float]) -> dict:
    """Median, and the tail: the highest of p99.9/p99/p95/p90 with at
    least ten samples beyond it, or the maximum when none has (n < 100)."""
    s = sorted(lat)
    n = len(s)
    tail_pct, idx = 100.0, n - 1
    for pct in (99.9, 99.0, 95.0, 90.0):
        i = math.ceil(pct / 100 * n) - 1  # nearest rank
        if n - 1 - i >= 10:
            tail_pct, idx = pct, i
            break
    return {
        "n": n,
        "p50_s": statistics.median(s),
        "tail_s": s[idx],
        "tail_pct": tail_pct,
        "tail_samples_beyond": n - 1 - idx,
    }


def stop_session(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    try:
        spark.stop()
    except Exception:  # interrupted mid-call: the processes still go
        traceback.print_exc()
    tree = host.descendants(os.getpid())[1:]
    for pid in tree:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    left = host.wait_gone(tree, 30)
    if left:
        print(f"killed lingering processes {left}", file=sys.stderr)


def execute(wl, req, tracer, force_scan: bool = False) -> dict:
    """One timed request, then its untimed settle step. When traced, the
    request runs under its own job group and, with ``force_scan``, its
    filtered input is then scanned alone under another group."""
    sc = wl.spark.sparkContext
    if tracer.enabled:
        sc.setJobGroup(tracer.request, req.kind)
    sample = {"kind": req.kind, "docs": req.docs, "req": req, "resp": None, "error": None,
              "params": {k: v for k, v in req.params.items() if k not in ("polys", "sample")}}
    sample["start"] = time.time()
    try:
        resp = wl.run(req, tracer)
        sample["end"] = time.time()
        if tracer.enabled:
            sc.setJobGroup(tracer.request + "-settle", "untimed follow-up")
        sample["resp"] = wl.settle(req, resp)
    except Exception:
        sample.setdefault("end", time.time())
        sample["error"] = traceback.format_exc(limit=3)
    sample["latency_s"] = sample["end"] - sample["start"]
    if force_scan:
        sc.setJobGroup(tracer.request + "-scan", "forced input scan")
        t = time.time()
        sample["rows"] = wl.scan(req)
        sample["scan_s"] = time.time() - t
    return sample


def run(args, tmp: str, started: float) -> tuple[dict, dict]:
    import workloads  # imports the package, which is on the path only now
    from raster_join_spark.session import get_spark
    from raster_join_spark.sources.pages import points_df

    data, warm_data = os.path.join(tmp, "data"), os.path.join(tmp, "warm")
    events = ref.write_events(data, args.docs, args.seed)
    warm_ts = ref.write_events(warm_data, WARM_DOCS, args.seed + 1)["ts_us"]
    untraced = tracing.Tracer(False)
    with host.RssSampler() as sampler:
        t = time.time()
        spark = get_spark(app_name="perfbench", master=args.master, extra_conf=spark_conf(tmp, args.trace))
        setup = {"get_spark_s": time.time() - t}
        try:
            t = time.time()
            points = points_df(spark, data)
            warm_points = points_df(spark, warm_data)
            setup["points_df_s"] = time.time() - t
            cls = workloads.WORKLOADS[args.workload]
            t = time.time()
            cls(spark, warm_points, warm_ts, np.random.default_rng([args.seed, 2])).warm(untraced)
            setup["warm_s"] = time.time() - t
            wl = cls(spark, points, events["ts_us"], np.random.default_rng([args.seed, 1]))
            setup_s = time.time() - started

            diag = {"calib_s_before": host.calib_s(), "loadavg_before": host.loadavg()}
            cpu0 = host.cpu_times()
            blocks = wl.blocks()
            first = block = next(blocks)
            timed, window = [], 0.0
            while True:
                for req in block:
                    timed.append(execute(wl, req, untraced))
                    window += timed[-1]["latency_s"]
                if window >= args.seconds:
                    break
                block = next(blocks)
            diag.update(steal_pct=host.steal_pct(cpu0, host.cpu_times()),
                        loadavg_after=host.loadavg(), calib_s_after=host.calib_s())

            traced, tracer = [], tracing.Tracer(args.trace == 1)
            if tracer.enabled:  # the first timed block again, traced
                for req in first:
                    tracer.request = f"r{len(traced)}"
                    traced.append(execute(wl, wl.replay(req), tracer, force_scan=not traced))
        finally:
            stop_session(spark)

    pts = ref.Points(events)
    for s in timed + traced:
        req, resp = s.pop("req"), s.pop("resp")
        if s["error"] is None:
            s["error"] = wl.check(req, resp, pts)
        s["knn_rows"] = resp.get("knn_rows", 0) if isinstance(resp, dict) else 0
    samples = timed + traced
    failed = sum(s["error"] is not None for s in samples)
    lat = percentiles([s["latency_s"] for s in timed])
    report = {
        "workload": args.workload, "seed": args.seed, "master": args.master, "docs": args.docs,
        "window_s": window, "latency": lat, "error_rate": failed / len(samples),
        "errors": [s["error"] for s in samples if s["error"]][:5],
        "setup": dict(setup, setup_s=setup_s), "host": diag,
        "requests": [{k: s[k] for k in ("kind", "latency_s", "docs", "params")} for s in timed],
    }
    if tracer.enabled:
        metrics = layer_metrics(tmp, setup, timed, traced, tracer, report)
    else:
        metrics = {
            "latency_p50_s": (lat["p50_s"], "s"),
            "latency_tail_s": (lat["tail_s"], "s"),
            "requests_per_s": (len(timed) / window, "1/s"),
            "docs_per_s": (sum(s["docs"] for s in timed) / window, "docs/s"),
            "peak_rss_mb": (sampler.peak_mb, "MB"),
            "setup_s": (setup_s, "s"),
        }
    result = {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def layer_metrics(tmp, setup, timed, traced, tracer, report) -> dict:
    """Per-layer metrics: a span is the mean over the traced requests that
    call its layer (0 when none does), a Spark row the mean over all
    traced requests; the forced scan is measured on the first traced
    request only."""
    walls = {f"r{i}": (s["start"], s["end"]) for i, s in enumerate(traced)}
    spark = tracing.spark_rows(os.path.join(tmp, "events"), walls)
    rows = []
    for i, s in enumerate(traced):
        row = {k: s[k] for k in ("kind", "latency_s")}
        row.update(tracer.layer_totals(f"r{i}"))
        if "operators.knn.knn_join_bulk_s" in row:
            row["operators.knn.rows"] = s["knn_rows"]
        row.update({f"spark.{k}": v for k, v in spark[f"r{i}"].items()})
        rows.append(row)

    def mean(key):
        vals = [r[key] for r in rows if key in r]
        return sum(vals) / len(vals) if vals else 0.0

    # each traced request replays the timed request at the same position
    overhead = statistics.median(t["latency_s"] - u["latency_s"] for t, u in zip(traced, timed))
    report["trace"] = rows
    report["tracing_overhead"] = {
        "traced_s": [s["latency_s"] for s in traced],
        "untraced_s": [s["latency_s"] for s in timed[: len(traced)]],
        "spans_s_per_request": tracer.span_cost_s() * len(tracer.spans) / len(traced),
    }
    out = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "sources.pages.points_df_s": (setup["points_df_s"], "s"),
        "sources.pages.scan_s": (traced[0]["scan_s"], "s"),
        "sources.pages.rows": (traced[0]["rows"], "count"),
    }
    out.update({name: (mean(name), "s") for name in SPAN_LAYERS})
    out["operators.knn.rows"] = (mean("operators.knn.rows"), "count")
    out.update({f"spark.{k}": (mean(f"spark.{k}"), u) for k, u in SPARK_UNITS.items()})
    out["trace.overhead_s"] = (overhead, "s")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    started = host.process_start_epoch()
    sys.path.insert(0, ROOT)
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    # a terminated run still stops its session and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        hermetic_env(tmp)
        report, result = run(args, tmp, started)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
