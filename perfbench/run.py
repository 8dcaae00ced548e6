#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run is one closed-loop client over one
workload (``workloads.py``): the inputs for the seed are generated under
``.perfbench_state/`` (once per dataset, with their DuckDB oracle
fingerprints), every query gets its own alias directory of the tables,
and a fresh Spark process on ``local[<cpus>]`` builds and executes each
query exactly once, in the workload's listed order. ``--seconds`` is the
measuring budget the run is sized for; a run always completes one whole
pass, which takes about that long.

``--trace 0`` prints the end-to-end metrics, with ``setup_s`` the median
of three fresh-process set-ups. ``--trace 1`` runs one untraced pass and
one traced pass and prints the per-layer metrics of the traced one;
its spans are written to ``.perfbench_state/traces/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench_state")
SETUP_SAMPLES = 3
KEEP_DATASETS = 3  # per workload, most recently used
# a run must end within 180 s; the first run in a checkout may need more
# for its DuckDB oracles, which are computed before this clock starts
RUN_BUDGET_S = 170

sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Registered name of no query: the self-test's injected failure.
INJECTED = "perfbench_injected_failure"


def metric_units() -> dict:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare(workload, seed: int, tmp_dir: str) -> str:
    """Generate the dataset for (workload, seed) if it is not on disk yet,
    with its oracle fingerprints; returns its directory."""
    copies = max(workload.scale.values(), default=1)
    # single-copy datasets keep the base keys, so they do not vary by seed
    key = f"s{seed}" if copies > 1 else "base"
    data_dir = os.path.join(STATE, "data", workload.name, key)
    if not os.path.isdir(data_dir):
        gen.write_dataset(data_dir, workload.scale, seed)
        _prune(os.path.dirname(data_dir))
    os.utime(data_dir)

    from oracle import oracle_fingerprints
    from p4_mapreduce_spark.registry import load_all

    registry = load_all()
    missing = [q for q in workload.queries if q not in registry or not registry[q].oracle]
    if missing:
        fail(f"queries without a registered oracle: {missing}")
    oracle_fingerprints(
        data_dir, {q: registry[q].oracle for q in workload.queries}, tmp_dir
    )
    return data_dir


def _prune(parent: str) -> None:
    dirs = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[KEEP_DATASETS:]:
        shutil.rmtree(d, ignore_errors=True)


def spawn(cfg: dict, run_dir: str, tag: str, deadline: float) -> dict:
    """Run one worker process and return what it wrote."""
    cfg = dict(cfg, out=os.path.join(run_dir, f"{tag}.json"))
    cfg_path = os.path.join(run_dir, f"{tag}.cfg.json")
    env = dict(os.environ)
    # the package root for the worker AND for the Python workers Spark
    # forks, whatever the working directory
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # keep every temp file, the JVMs' included, inside the checkout
    env["TMPDIR"] = cfg["tmp_dir"]
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={cfg['tmp_dir']}"
    cfg["spawned_at"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(run_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--config", cfg_path],
            cwd=run_dir,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        # the worker exits without stopping Spark once its result is
        # written; its JVM and Python workers are stopped here
        _kill_descendants()
    if rc != 0 or not os.path.exists(cfg["out"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"worker {tag} exited with {rc}:\n{tail}")
    with open(cfg["out"]) as f:
        return json.load(f)


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process has just ended
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _kill_descendants() -> None:
    """Kill every process this run started and reap each one. This
    process is a child subreaper, so a worker's JVM and Python workers
    become its children when the worker exits, and are waited for here."""
    while pids := _descendants():
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.01)


def check(result: dict, oracle: dict) -> tuple[int, dict]:
    """Failed-query count and why each failed (error or wrong result)."""
    why = {}
    for name, rec in result["queries"].items():
        if "error" in rec:
            why[name] = rec["error"]
        elif name not in oracle:
            why[name] = "no oracle fingerprint"
        elif (rec["rows"], rec["fp"]) != (oracle[name]["rows"], oracle[name]["fp"]):
            why[name] = (
                f"result differs from oracle: rows {rec['rows']} vs "
                f"{oracle[name]['rows']}"
            )
    return len(why), why


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # self-test hooks: a subset of the queries, plus one that must fail
    ap.add_argument("--queries", help=argparse.SUPPRESS)
    ap.add_argument("--inject-failure", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    # PR_SET_CHILD_SUBREAPER: orphaned descendants are re-parented here
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)
    if not os.path.isfile(os.path.join(ROOT, "p4_mapreduce_spark", "registry.py")):
        fail(f"engine package not found under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        fail(f"tests/oracle.py not found under {ROOT}")
    sys.path.insert(0, ROOT)
    spec = metric_units()

    workload = WORKLOADS[args.workload]
    # A fixed order: the first queries of a process pay 1-2 s of JIT
    # warm-up, so a seed-permuted order moved wall_s between seeds by
    # about 10% (quartile spread over five seeds) against 4-7% for
    # repeated runs of one order.
    order = [q for q in workload.queries if not args.queries or q in args.queries.split(",")]
    if args.inject_failure:
        order.append(INJECTED)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(STATE, "runs", run_id)
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    try:
        data_dir = prepare(workload, args.seed, tmp_dir)
        with open(os.path.join(data_dir, "oracle.json")) as f:
            oracle = json.load(f)
        alias_root = os.path.join(run_dir, "alias")
        cfg = {
            "workload": args.workload,
            "data_dir": data_dir,
            "tmp_dir": tmp_dir,
            "order": order,
            "alias": {q: gen.alias_dir(data_dir, alias_root, q) for q in order},
            "trace": 0,
            "setup_only": False,
            "spans_out": os.path.join(STATE, "traces", f"{run_id}.json"),
        }
        src_mb = gen.input_bytes(data_dir) / 1e6
        deadline = time.time() + RUN_BUDGET_S

        if args.trace:
            os.makedirs(os.path.dirname(cfg["spans_out"]), exist_ok=True)
            plain = spawn(cfg, run_dir, "untraced", deadline)
            res = spawn(dict(cfg, trace=1), run_dir, "traced", deadline)
            n_failed, why = check(res, oracle)
            res["trace.overhead_pct"] = 100.0 * (res["wall_s"] / plain["wall_s"] - 1.0)
            res["check.fail_ratio"] = n_failed / len(order)
            metrics = {}
            for name, unit in spec["per_layer"].items():
                if name in res:
                    metrics[name] = {"value": res[name], "unit": unit}
                else:
                    err = "; ".join(res.get("errors", {}).values()) or "not measured"
                    metrics[name] = {"value": None, "unit": unit, "error": err}
        else:
            setups = [
                spawn(dict(cfg, setup_only=True), run_dir, f"setup{i}", deadline)[
                    "setup_s"
                ]
                for i in range(SETUP_SAMPLES - 1)
            ]
            res = spawn(cfg, run_dir, "untraced", deadline)
            setups.append(res["setup_s"])
            print(
                "memory: jvm_peak_rss_mb={:.1f} jvm_heap_after_gc_mb={:.1f}".format(
                    res["session.jvm_peak_rss_mb"], res["session.jvm_heap_after_gc_mb"]
                )
            )
            n_failed, why = check(res, oracle)
            values = {
                "wall_s": res["wall_s"],
                "query_p50_s": res["query_p50_s"],
                "src_mb_per_s": src_mb / res["wall_s"],
                "setup_s": statistics.median(setups),
            }
            metrics = {k: {"value": v, "unit": spec["end_to_end"][k]} for k, v in values.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, msg in sorted(why.items()):
        print(f"FAILED {name}: {msg}")
    for name, rec in res["queries"].items():
        if name not in why:
            print(f"ok {name} {rec['latency_s']:.3f}s rows={rec['rows']}")
    print(
        json.dumps(
            {
                "correct": not why,
                "attempted": len(order),
                "failed": n_failed,
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
