"""Spans, in-process wrappers and Spark REST readers for the traced run.

The traced run records a span around each call into a layer, from the
benchmark's side only: the ``checkpoint`` public functions,
``sources.read_transcripts``, the pipeline's plan builder, the stretch
where ``run_job`` builds its ``observe()`` expressions and the DataFrame
actions ``run_job`` takes (the empty probe, the staged write, the staged
read and count). The benchmark puts one more span around each whole
operation, reassembly included.
Each span also names the Spark jobs it causes: entering a span sets the
job description, so the REST API's jobs, stages and SQL executions can be
attributed to the span afterwards. The program itself is never edited;
every wrapper is removed when the span recorder is closed.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

# ---------------------------------------------------------------------------
# Spark metric strings
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(value: str) -> float:
    """Total of one SQL metric as the UI prints it, in seconds for times,
    bytes for sizes and a plain number for counts.

    Accepts ``'392'``, ``'1,234'``, ``'17.2 KiB'``, ``'23 ms'`` and the
    per-task form ``'total (min, med, max (stageId: taskId))\\n9.8 s (...)'``,
    whose total is the first value on its second line."""
    text = value.strip()
    if text.startswith("total (") and "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        raise ValueError(f"not a Spark metric value: {value!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return number
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {value!r}")
    return number * _UNITS[unit]


def parse_rest_time(stamp: str) -> float:
    """Epoch seconds of a REST timestamp such as ``2026-01-01T10:04:37.695GMT``."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    path: str  # names of the enclosing spans and this one, joined by '/'
    start: float
    end: float


@dataclass
class Tracer:
    """In-memory span recorder. ``span()`` also labels the Spark jobs
    started inside it with the span's path."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)
    _undo: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        self._stack.append(name)
        path = "/".join(self._stack)
        self.sc.setJobDescription(path)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(path, start, time.time()))
            self._stack.pop()
            self.sc.setJobDescription("/".join(self._stack) or None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or a property) with a spanned
        version until ``close()``."""
        original = inspect.getattr_static(owner, attr)
        fn = original.fget if isinstance(original, property) else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, property(spanned) if isinstance(original, property) else spanned)
        self._undo.append((owner, attr, original))

    def wrap_interval(self, first_owner, first_attr: str, last_owner, last_attr: str, name: str) -> None:
        """Record a span from each call of ``first_owner.first_attr`` to the
        return of the next call of ``last_owner.last_attr``: a stretch of
        caller code with no function of its own to wrap."""
        first = getattr(first_owner, first_attr)
        last = getattr(last_owner, last_attr)
        starts: list[float] = []
        tracer = self

        @functools.wraps(first)
        def on_first(*args, **kwargs):
            starts.append(time.time())
            return first(*args, **kwargs)

        @functools.wraps(last)
        def on_last(*args, **kwargs):
            try:
                return last(*args, **kwargs)
            finally:
                if starts:
                    path = "/".join([*tracer._stack, name])
                    tracer.spans.append(Span(path, starts.pop(), time.time()))

        for owner, attr, fn in ((first_owner, first_attr, on_first), (last_owner, last_attr, on_last)):
            self._undo.append((owner, attr, inspect.getattr_static(owner, attr)))
            setattr(owner, attr, fn)

    def close(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def total(self, path: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.path == path)

    def count(self, path: str) -> int:
        return sum(1 for s in self.spans if s.path == path)

    def coverage(self, op: str) -> float:
        """Share of the wall time of top-level span ``op`` covered by the
        union of the spans inside it."""
        (whole,) = [s for s in self.spans if s.path == op]
        covered, reach = 0.0, whole.start
        for start, end in sorted((s.start, s.end) for s in self.spans if s.path.startswith(op + "/")):
            start = max(start, reach)
            if end > start:
                covered += end - start
                reach = end
        wall = whole.end - whole.start
        return covered / wall if wall > 0 else 0.0


def instrument(tracer: Tracer, spark) -> None:
    """Wrap the layers ``run_job`` calls into. The DataFrame classes are
    taken from live objects, since the session's classes override the
    generic ``pyspark.sql`` ones."""
    from pyspark.sql import Observation

    from janet_spark import checkpoint, pipeline, sources

    probe = spark.range(1)
    DataFrame, DataFrameWriter = type(probe), type(probe.write)

    for fn in (
        "check_bucket_config",
        "clean_stale_staging",
        "completed_buckets",
        "backup_manifest",
        "commit_staged",
        "write_lineage",
    ):
        tracer.wrap(checkpoint, fn, f"checkpoint.{fn}")
    tracer.wrap(sources, "read_transcripts", "sources.read_transcripts")
    tracer.wrap(pipeline, "extract_only", "pipeline.extract_plan")
    # run_job builds its 2 x n_buckets observe() expressions between
    # creating the Observation and calling observe()
    tracer.wrap_interval(Observation, "__init__", DataFrame, "observe", "pipeline.observe_plan")
    tracer.wrap(DataFrame, "isEmpty", "pipeline.empty_probe")
    tracer.wrap(DataFrameWriter, "parquet", "pipeline.write")
    tracer.wrap(type(spark.read), "parquet", "pipeline.read_parquet")
    tracer.wrap(DataFrame, "count", "pipeline.stats")
    tracer.wrap(Observation, "get", "pipeline.observe_get")


# ---------------------------------------------------------------------------
# Spark REST API
# ---------------------------------------------------------------------------


class SparkRest:
    """Reader for ``/api/v1/applications/<id>/{jobs,stages,sql}``."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def snapshot(self) -> "RestSnapshot":
        return RestSnapshot(
            jobs=self.get("/jobs"),
            stages={
                (s["stageId"], s["attemptId"]): s
                for s in self.get("/stages")
                if s["status"] == "COMPLETE"
            },
            sql=self.get("/sql?details=true&planDescription=false&length=100000"),
            rest=self,
        )


@dataclass
class RestSnapshot:
    jobs: list[dict]
    stages: dict
    sql: list[dict]
    rest: SparkRest

    def jobs_of(self, prefix: str) -> list[dict]:
        """Jobs started inside the span with path ``prefix`` (or below it)."""
        return [
            j
            for j in self.jobs
            if (d := j.get("description") or "") == prefix or d.startswith(prefix + "/")
        ]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        ids = {sid for j in jobs for sid in j["stageIds"]}
        return [s for (sid, _), s in sorted(self.stages.items()) if sid in ids]

    def sql_metrics(self, prefix: str | None = None) -> dict[str, float]:
        """Summed SQL metrics, keyed ``'<node>/<metric>'``, of the
        executions that ran jobs inside the span ``prefix`` (of every
        execution of the application when ``prefix`` is None)."""
        job_ids = {j["jobId"] for j in self.jobs_of(prefix)} if prefix else None
        out: dict[str, float] = {}
        for ex in self.sql:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if job_ids is not None and not (ex_jobs & job_ids):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = f"{node['nodeName']}/{m['name']}"
                    try:
                        out[key] = out.get(key, 0.0) + parse_metric(m["value"])
                    except ValueError:
                        continue
        return out

    def task_skew(self, stage: dict) -> float:
        """Slowest over median task run time of one stage."""
        q = self.rest.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, top = q["executorRunTime"]
        return top / med if med > 0 else float(top > 0)


def jobs_wall(jobs: list[dict]) -> float:
    """Wall seconds from the first job's submission to the last job's end."""
    if not jobs:
        return 0.0
    start = min(parse_rest_time(j["submissionTime"]) for j in jobs)
    end = max(parse_rest_time(j["completionTime"]) for j in jobs)
    return end - start
