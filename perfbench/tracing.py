"""Span tracing for the traced benchmark run.

The tracer wraps the public functions of each engine layer by rebinding
module and class attributes from here, so the engine is unchanged. A
span records name, start, end, parent, op id and free attributes. Each
span sets the Spark job group to its id, so the in-process status REST
API (``/api/v1/applications/<id>/jobs`` and ``/stages``) attributes
every stage's metrics to the innermost span that started it. Jobs
started on other threads (streaming micro-batches) carry no group of
ours and are attributed to the innermost span open when they started.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import sys
import time
import urllib.request
from contextlib import contextmanager

from stats import clip, self_times, union_length

ENGINE = "php_etl_spark"  # the package whose functions are wrapped


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self.captures: dict[str, list] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: dict | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{s['id']}", s["name"])

    # -- patching ----------------------------------------------------------

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return traced

    def rebind(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` (a module or class attribute) until restore()."""
        old = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((lambda v, o=owner, a=attr: setattr(o, a, v), old))
        setattr(owner, attr, new)

    def rebind_item(self, mapping: dict, key, new) -> None:
        """Set ``mapping[key]`` until restore()."""
        self._patches.append((lambda v, m=mapping, k=key: m.__setitem__(k, v), mapping[key]))
        mapping[key] = new

    def patch_everywhere(self, fn, name: str | None, around=None) -> None:
        """Rebind every module-level name in ``ENGINE`` bound to ``fn``
        (``from x import fn`` copies the binding, so rebinding the
        defining module alone would miss those callers). The new
        binding is ``around(fn)`` if given, in a span ``name`` if given."""
        new = around(fn) if around else fn
        if name:
            new = self.wrap(new, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == ENGINE or mod_name.startswith(ENGINE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.rebind(mod, attr, new)

    def restore(self) -> None:
        for put, old in reversed(self._patches):
            put(old)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


# -- Spark status API -------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "tasks": ("numCompleteTasks", 1),
}


def fetch_jobs_and_stages(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts the application has run, from the
    driver's own status REST endpoint."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = [s for s in _get(f"{base}/stages") if s.get("status") != "SKIPPED"]
    return jobs, stages


def attribute(spans: list[dict], jobs: list[dict], stages: list[dict]) -> None:
    """Attach Spark counters to spans. Each span gets ``jobs``,
    ``stages`` and the ``STAGE_FIELDS`` sums for the work it started
    itself (``self_*``) and including its children (``incl_*``), plus
    ``self_s`` (see stats.self_times) and ``task_busy_s``: the part of
    its interval during which some stage of the application had tasks
    running."""
    by_id = {s["id"]: s for s in spans}
    job_span: dict[int, int] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        sid = None
        if group.startswith("span-") and int(group[5:]) in by_id:
            sid = int(group[5:])
        else:
            t = _ts(j.get("submissionTime"))
            best = None
            for s in spans:
                if t is not None and s["start"] <= t <= (s["end"] or t):
                    if best is None or s["start"] >= best["start"]:
                        best = s
            sid = best["id"] if best else None
        if sid is not None:
            job_span[j["jobId"]] = sid
    stage_span: dict[int, int] = {}
    for j in jobs:
        if j["jobId"] in job_span:
            for st in j.get("stageIds", []):
                stage_span.setdefault(st, job_span[j["jobId"]])
    for s in spans:
        s["self_jobs"] = 0
        s["self_stages"] = 0
        for k in STAGE_FIELDS:
            s["self_" + k] = 0.0
    for j, sid in job_span.items():
        by_id[sid]["self_jobs"] += 1
    intervals = []
    for st in stages:
        a, b = _ts(st.get("firstTaskLaunchedTime")), _ts(st.get("completionTime"))
        if a is not None and b is not None:
            intervals.append((a, b))
        sid = stage_span.get(st["stageId"])
        if sid is None:
            continue
        s = by_id[sid]
        s["self_stages"] += 1
        for k, (field, scale) in STAGE_FIELDS.items():
            s["self_" + k] += st.get(field, 0) * scale
    # inclusive sums, children before parents (ids grow with start order)
    for s in spans:
        s["incl_jobs"] = s["self_jobs"]
        s["incl_stages"] = s["self_stages"]
        for k in STAGE_FIELDS:
            s["incl_" + k] = s["self_" + k]
    for s in sorted(spans, key=lambda x: -x["id"]):
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            p["incl_jobs"] += s["incl_jobs"]
            p["incl_stages"] += s["incl_stages"]
            for k in STAGE_FIELDS:
                p["incl_" + k] += s["incl_" + k]
    st = self_times(spans)
    for s in spans:
        s["self_s"] = st[s["id"]]
        s["task_busy_s"] = union_length(clip(intervals, s["start"], s["end"]))
