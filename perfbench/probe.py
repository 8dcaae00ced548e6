"""Per-layer instrumentation for the traced run.

Everything here observes the engine from outside: spans are recorded
around the benchmark's own calls into the package, layout decisions are
counted by wrapping the classic DataFrame methods in this process, jobs
are attributed through job groups, and stage and Python-worker figures
are read back from the Spark UI REST API after the pass has finished.
No package code is changed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import threading
import time
import urllib.request
import uuid

# classic DataFrame method -> layout counter it feeds. On PySpark 4.1
# pyspark.sql.DataFrame is the Connect/classic dispatch base; the
# methods that run are those of pyspark.sql.classic.dataframe.DataFrame.
LAYOUT_METHODS = {
    "localCheckpoint": "layout.local_checkpoints",
    "persist": "layout.persists",
    "cache": "layout.persists",
    "repartition": "layout.repartitions",
    "repartitionByRange": "layout.repartitions",
    "coalesce": "layout.repartitions",
    "collect": "layout.driver_collects",
    "toPandas": "layout.driver_collects",
    "toArrow": "layout.driver_collects",
    "take": "layout.driver_collects",
    "head": "layout.driver_collects",
    "first": "layout.driver_collects",
    "toLocalIterator": "layout.driver_collects",
}


class Tracer:
    """Spans (kept in memory, written out at the end of the run) and
    layout call counts taken inside ``counting()``."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts = {c: 0 for c in set(LAYOUT_METHODS.values())}
        self._on = False
        self._depth = threading.local()

    def span(self, name: str, parent: str | None, **attrs):
        return _Span(self, name, parent, attrs)

    @contextlib.contextmanager
    def counting(self):
        self._on = True
        try:
            yield
        finally:
            self._on = False

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for meth, counter in LAYOUT_METHODS.items():
            orig = getattr(DataFrame, meth)
            setattr(DataFrame, meth, self._wrap(orig, counter))

    def _wrap(self, orig, counter):
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            # count only the outermost call: take() -> collect() is one
            depth = getattr(tracer._depth, "n", 0)
            if tracer._on and depth == 0:
                tracer.counts[counter] += 1
            tracer._depth.n = depth + 1
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._depth.n = depth

        return wrapped


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent, attrs) -> None:
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id = uuid.uuid4().hex[:8]

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.spans.append(
            {
                "run_id": self.tracer.run_id,
                "span_id": self.id,
                "parent_id": self.parent,
                "name": self.name,
                "start": self.start,
                "end": time.time(),
                "error": exc[0].__name__ if exc[0] else None,
                **self.attrs,
            }
        )


# ---------------------------------------------------------------------------
# Spark UI REST
# ---------------------------------------------------------------------------


def _get(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    if not base:
        raise RuntimeError("spark.ui.enabled=false: REST metrics unavailable")
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.load(r)


def wait_idle(spark, settle: float = 0.3, polls: int = 20) -> None:
    """The status store updates asynchronously; wait until no job is
    running and the completed-stage count stops moving."""
    last = -1
    for _ in range(polls):
        jobs = _get(spark, "jobs")
        n = len(_get(spark, "stages?status=complete"))
        if n == last and not any(j["status"] == "RUNNING" for j in jobs):
            return
        last = n
        time.sleep(settle)


def job_stats(spark, groups: set[str]) -> tuple[dict, set]:
    """Jobs per job group and the stage ids those jobs ran."""
    per_group: dict[str, int] = {}
    stage_ids: set = set()
    for j in _get(spark, "jobs"):
        g = j.get("jobGroup")
        if g in groups:
            per_group[g] = per_group.get(g, 0) + 1
            stage_ids.update(j.get("stageIds", []))
    return per_group, stage_ids


def stage_stats(spark, stage_ids: set) -> dict:
    """Input, shuffle, task and executor-time totals over the given
    stages, the slowest task and the skew of the slowest stage."""
    stages = [
        s for s in _get(spark, "stages?status=complete") if s["stageId"] in stage_ids
    ]
    out = {
        "exec.stages": len(stages),
        "exec.tasks": sum(int(s.get("numCompleteTasks") or 0) for s in stages),
        "exec.input_bytes": sum(int(s.get("inputBytes") or 0) for s in stages),
        "exec.shuffle_write_bytes": sum(
            int(s.get("shuffleWriteBytes") or 0) for s in stages
        ),
        "exec.executor_run_s": sum(int(s.get("executorRunTime") or 0) for s in stages)
        / 1000.0,
    }
    max_task = 0.0
    slowest = max(stages, key=lambda s: int(s.get("executorRunTime") or 0), default=None)
    skew = None
    for s in stages:
        q = _get(
            spark,
            f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0",
        )
        med, mx = (q.get("duration") or [0.0, 0.0])[:2]
        max_task = max(max_task, mx)
        if s is slowest:
            skew = mx / med if med > 0 else 1.0
    out["exec.max_task_ms"] = max_task
    out["exec.skew"] = skew if skew is not None else 1.0
    return out


_PY_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def _metric_total(value: str) -> float:
    """The total from a SQL metric string: either ``'1.2 s'`` or
    ``'total (min, med, max ...)\\n1.2 s (...)'``."""
    line = value.strip().splitlines()[-1]
    m = _NUM.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def sql_execution_ids(spark) -> set:
    return {e["id"] for e in _get(spark, "sql?details=false&length=1000000")}


def python_stats(spark, before: set) -> dict:
    """Python-worker boot/init/run time and Arrow bytes, summed over
    every SQL execution since ``before`` (from Spark's Python SQL
    metrics on the ``/sql`` endpoint)."""
    out = {v: 0.0 for v in _PY_METRICS.values()}
    for e in _get(spark, "sql?details=true&planDescription=false&length=1000000"):
        if e["id"] in before:
            continue
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                key = _PY_METRICS.get(m.get("name"))
                if key:
                    out[key] += _metric_total(m["value"])
    return out
