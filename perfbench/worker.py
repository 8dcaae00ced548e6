"""One benchmark process: set up a Spark session, run the workload's
queries once each, and write what it measured to a JSON file.

Run by ``run.py``; it is not a command of its own. The package root must
be on ``PYTHONPATH`` so the Python workers Spark starts can import it.

Each query is built (the registered ``QuerySpec.fn`` call) and then
executed once by collecting its result into this process as an Arrow-backed
pandas frame, which is both the timed action and the output that is
checked against the query's DuckDB oracle fingerprint, outside the
timed region.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
from types import SimpleNamespace

import numpy as np


def _jvm_memory(spark) -> dict:
    """Peak RSS of the JVM (VmHWM) and heap in use after an
    explicit GC."""
    out = {}
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                out["session.jvm_peak_rss_mb"] = int(line.split()[1]) / 1024.0
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    out["session.jvm_heap_after_gc_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
    return out


def _phases_ms(df) -> dict:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[f"catalyst.{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def median_hd(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the order statistics
    weighted by a Beta((n+1)/2, (n+1)/2) distribution. Per-query
    latencies cluster (TPC-H's sit around 0.75 s and 1.1 s with nothing
    between), so the plain middle value jumped between clusters and
    spread 9% over ten seeds where this estimate spread 3.5%."""
    x = np.sort(np.asarray(values, dtype=np.float64))
    n = len(x)
    if n == 1:
        return float(x[0])
    t = np.linspace(0.0, 1.0, 10001)
    with np.errstate(divide="ignore"):
        log_pdf = (n - 1) / 2.0 * np.log(t * (1.0 - t))
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


def _no_span(*_args, **_attrs):
    return contextlib.nullcontext(SimpleNamespace(id=None))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    args = ap.parse_args()
    with open(args.config) as f:
        cfg = json.load(f)
    trace = cfg["trace"]
    res: dict = {"queries": {}}

    def dump() -> None:
        with open(cfg["out"] + ".tmp", "w") as f:
            json.dump(res, f)
        os.replace(cfg["out"] + ".tmp", cfg["out"])

    # --- setup: session, registry, warm scan ---------------------------
    t_session = time.perf_counter()
    from p4_mapreduce_spark.session import get_spark

    conf = {
        "spark.local.dir": cfg["tmp_dir"],
        "spark.sql.warehouse.dir": os.path.join(cfg["tmp_dir"], "warehouse"),
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(app_name=f"perfbench-{cfg['workload']}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    res["session.start_s"] = time.perf_counter() - t_session

    t_reg = time.perf_counter()
    from p4_mapreduce_spark.registry import load_all

    registry = load_all()
    res["registry.load_s"] = time.perf_counter() - t_reg

    from p4_mapreduce_spark.sources.tables import load

    load(spark, cfg["data_dir"], "lineitem").count()  # the warm scan
    res["setup_s"] = time.time() - cfg["spawned_at"]
    if cfg["setup_only"]:
        dump()
        return

    from oracle import fingerprint

    tracer = None
    sc = spark.sparkContext
    if trace:
        import probe

        tracer = probe.Tracer()
        tracer.install()
        sql_before = probe.sql_execution_ids(spark)

    span = tracer.span if tracer else _no_span
    counting = tracer.counting if tracer else contextlib.nullcontext

    def run_query(name: str, path: str, parent) -> dict:
        sc.setJobGroup(f"{name}:construct", f"{name}:construct")
        t0 = time.perf_counter()
        try:
            fn = registry[name].fn  # KeyError for the self-test's injected query
            with span("construct", parent), counting():
                df = fn(spark, path)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{name}:execute", f"{name}:execute")
            with span("execute", parent):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as e:  # counted as a failure, named in the output
            first = (str(e).strip().splitlines() or [""])[0][:300]
            return {"error": f"{type(e).__name__}: {first}", "latency_s": time.perf_counter() - t0}
        rec = {"construct_s": t1 - t0, "execute_s": t2 - t1, "latency_s": t2 - t0}
        rec.update(fingerprint(pdf))
        if tracer:
            rec.update(_phases_ms(df))
        return rec

    # --- the pass: every query once, in order --------------------------
    with span("workload", None, workload=cfg["workload"]) as wspan:
        for name in cfg["order"]:
            with span("query", wspan.id, query=name) as qspan:
                res["queries"][name] = run_query(name, cfg["alias"][name], qspan.id)

    lat = [r["latency_s"] for r in res["queries"].values()]
    res["wall_s"] = sum(lat)
    res["query_p50_s"] = median_hd(lat)

    if tracer:
        res.update(_layers(spark, res, cfg, tracer, sql_before))
        with open(cfg["spans_out"], "w") as f:
            json.dump(tracer.spans, f)
    else:
        res.update(_jvm_memory(spark))
    dump()


def _layers(spark, res: dict, cfg: dict, tracer, sql_before: set) -> dict:
    """Per-layer figures for the whole pass. A layer that cannot be read
    leaves its metrics out and says why under ``errors``."""
    import kernels
    import probe
    from p4_mapreduce_spark.metrics import calibration_scan

    qs = res["queries"].values()
    out: dict = dict(tracer.counts)
    out["construct.s"] = sum(q.get("construct_s", 0.0) for q in qs)
    out["execute.s"] = sum(q.get("execute_s", 0.0) for q in qs)
    for p in ("analysis", "optimization", "planning"):
        out[f"catalyst.{p}_ms"] = sum(q.get(f"catalyst.{p}_ms", 0.0) for q in qs)
    errors: dict = {}
    try:
        probe.wait_idle(spark)
        cons = {f"{q}:construct" for q in cfg["order"]}
        exe = {f"{q}:execute" for q in cfg["order"]}
        per_group, stage_ids = probe.job_stats(spark, cons | exe)
        out["construct.jobs"] = sum(per_group.get(g, 0) for g in cons)
        out["execute.jobs"] = sum(per_group.get(g, 0) for g in exe)
        out.update(probe.stage_stats(spark, stage_ids))
    except Exception as e:
        errors["exec"] = repr(e)
    try:
        out.update(probe.python_stats(spark, sql_before))
    except Exception as e:
        errors["python"] = repr(e)
    try:
        out.update(_jvm_memory(spark))
    except Exception as e:
        errors["session"] = repr(e)
    # after the pass, so the scan's JIT warm-up does not speed the pass
    # up and hide the tracing overhead
    out["tables.calibration_scan_s"] = calibration_scan(spark, cfg["data_dir"])
    try:
        out.update(kernels.measure(cfg["data_dir"]))
    except Exception as e:
        errors["kernel"] = repr(e)
    out["errors"] = errors
    return out


if __name__ == "__main__":
    main()
    # run.py stops the JVM and the Python workers; stopping Spark here
    # would add about a second to every process
    sys.stdout.flush()
    os._exit(0)
