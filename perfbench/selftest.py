#!/usr/bin/env python3
"""Self-tests for the benchmark itself.

    python3 perfbench/selftest.py

Run from the repository root; takes about a minute. Checks that:

- the generator is deterministic: the same seed gives byte-identical
  tables and identical oracle fingerprints, and another seed gives other
  key offsets with input bytes within 1%;
- ``run.py`` prints every metric ``BENCHMARK.json`` names, with its unit,
  and a traced run measures every per-layer metric;
- a run started from another working directory executes a Python-kernel
  query (its Python workers import the package) and counts an injected
  failing query in ``failed``;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_state", "selftest")
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from oracle import oracle_fingerprints  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _file_hashes(data_dir: str) -> dict:
    return {
        f"{t}/{f}": hashlib.sha256(open(os.path.join(data_dir, t, f), "rb").read()).hexdigest()
        for t in gen.tables(data_dir)
        for f in sorted(os.listdir(os.path.join(data_dir, t)))
    }


def test_generator() -> None:
    from p4_mapreduce_spark.registry import load_all

    wl = WORKLOADS["tpch_x8"]
    oracles = {q: load_all()[q].oracle for q in wl.queries}
    a, b, c = (os.path.join(SCRATCH, n) for n in ("a", "b", "c"))
    gen.write_dataset(a, wl.scale, 7)
    gen.write_dataset(b, wl.scale, 7)
    gen.write_dataset(c, wl.scale, 8)
    assert _file_hashes(a) == _file_hashes(b), "same seed, different tables"
    fa = oracle_fingerprints(a, oracles, SCRATCH)
    assert fa == oracle_fingerprints(b, oracles, SCRATCH), "same seed, other fingerprints"
    assert gen.copy_offsets(7, 8) != gen.copy_offsets(8, 8), "seed does not move offsets"
    ba, bc = gen.input_bytes(a), gen.input_bytes(c)
    assert abs(ba - bc) / ba < 0.01, f"input bytes {ba} vs {bc}"
    print(f"generator ok: {len(fa)} fingerprints, bytes {ba} vs {bc}")


def _bench(args: list[str], cwd: str) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )
    return p.returncode, p.stdout.strip().splitlines()


def test_run_elsewhere_with_failure() -> None:
    rc, out = _bench(
        [
            os.path.join(HERE, "run.py"),
            "--workload", "iterative_x1", "--seed", "3", "--seconds", "10",
            "--trace", "0", "--queries", "crossmodal_dup_components",
            "--inject-failure",
        ],
        cwd=HERE,
    )
    assert rc == 0, out
    res = json.loads(out[-1])
    assert any(line.startswith("ok crossmodal_dup_components") for line in out), out
    assert (res["attempted"], res["failed"], res["correct"]) == (2, 1, False), res
    want = run.metric_units()["end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"end-to-end metrics {got} != {want}"
    print("run from another directory ok: Python kernel ran, injected failure counted")


def test_traced_metrics() -> None:
    rc, out = _bench(
        [
            os.path.join(HERE, "run.py"),
            "--workload", "kernels_x1", "--seed", "3", "--seconds", "10",
            "--trace", "1", "--queries", "multimodal_audio_resample",
        ],
        cwd=ROOT,
    )
    assert rc == 0, out
    metrics = json.loads(out[-1])["metrics"]
    want = run.metric_units()["per_layer"]
    assert {k: v["unit"] for k, v in metrics.items()} == want, metrics
    missing = {k: v["error"] for k, v in metrics.items() if v["value"] is None}
    assert not missing, missing
    assert metrics["python.boot_ms"]["value"] > 0, metrics
    print(f"traced run ok: {len(metrics)} per-layer metrics, all measured")


def test_bare_directory() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out = _bench(
        ["perfbench/run.py", "--workload", "tpch_x8", "--seed", "1", "--seconds", "10", "--trace", "0"],
        cwd=bare,
    )
    assert rc != 0 and not any(line.startswith("{") for line in out), (rc, out)
    print(f"bare directory ok: exit {rc}, no result")


def main() -> None:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    try:
        test_generator()
        test_run_elsewhere_with_failure()
        test_traced_metrics()
        test_bare_directory()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
