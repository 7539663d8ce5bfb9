"""Spans around the job path's layers, and Spark metrics attributed to them.

A traced run wraps public functions of the repo's modules by patching their
module attributes. Each span sets its id as the Spark job group while it is
the innermost open span, so every Spark job is attributed to exactly one
span; the UI's REST API then gives each job's stages and their executor
metrics. Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[str] = []
        self.sc = None  # set once the SparkContext is up

    @contextmanager
    def span(self, name: str):
        sid = f"span-{len(self.spans) + len(self._open)}"
        rec = {"id": sid, "name": name,
               "parent": self._open[-1] if self._open else None}
        saved = None
        if self.sc is not None:
            saved = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
            self.sc.setLocalProperty(_GROUP, sid)
            self.sc.setLocalProperty(_DESC, name)
        self._open.append(sid)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._open.pop()
            self.spans.append(rec)
            if saved is not None:
                self.sc.setLocalProperty(_GROUP, saved[0])
                self.sc.setLocalProperty(_DESC, saved[1])

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        """Replace `owner.attr` by a traced twin; `note(args)` adds fields to
        the span record. A function the module no longer has is skipped."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return
        orig = getattr(orig, "traced_from", orig)  # one span per call

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if note is not None:
                    rec.update(note(args))
                return orig(*args, **kwargs)

        traced.traced_from = orig
        setattr(owner, attr, traced)


STAGE_FUNCTIONS = (
    "extract_sentences", "with_slide_windows", "detect_claims",
    "link_and_filter", "verbalize", "score_evidence", "entail_and_verdict",
)


def instrument(tracer: Tracer) -> None:
    """Wrap the job path's layers: checkpoint, run, stages, canonicalize and
    the table writes."""
    from prove_spark.pipeline import canonicalize, checkpoint, run, stages
    from prove_spark.sources.tables import TableIO

    w = tracer.wrap
    w(checkpoint, "input_fingerprint", "checkpoint.input_fingerprint")
    w(checkpoint, "completed_buckets", "checkpoint.completed_buckets")
    w(checkpoint, "_append_bucket_manifest", "checkpoint.manifest",
      lambda a: {"buckets": len(a[2])})
    w(checkpoint, "incremental_update", "checkpoint.incremental_update")
    w(run, "build_triples", "run.build_triples")
    w(run, "build_entities", "run.build_entities")
    for fn in STAGE_FUNCTIONS:
        w(stages, fn, "stages.plan")
    for fn in ("canonical_map_df", "rekey_triples"):
        w(canonicalize, fn, "canonicalize.plan")
        w(run, fn, "canonicalize.plan")  # run.py binds these names at import
    w(TableIO, "overwrite_buckets", "sources.overwrite_buckets")
    w(TableIO, "overwrite", "sources.overwrite")
    w(TableIO, "append", "sources.append")
    w(TableIO, "delete_buckets", "sources.delete_buckets",
      lambda a: {"buckets": len(a[2])})


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span counted as its duration minus the
    durations of its direct children (spans open and close on one thread, so
    children never overlap)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# --- Spark REST API ---

EXEC_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
               "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
_MB = 1024.0 * 1024.0


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetch(ui_url: str, settle_s: float = 20.0) -> dict:
    """Jobs, stages and SQL executions of the session's application, once
    the status store has caught up with the last job."""
    base = ui_url.rstrip("/") + "/api/v1/applications"
    app = _get(base)[0]["id"]
    api = f"{base}/{app}"
    end = time.monotonic() + settle_s
    last = None
    while True:
        jobs = _get(f"{api}/jobs")
        stages = _get(f"{api}/stages")
        busy = any(j["status"] == "RUNNING" for j in jobs) or any(
            s["status"] in ("ACTIVE", "PENDING") and s["numActiveTasks"] for s in stages)
        sig = (len(jobs), len(stages), busy)
        if (not busy and sig == last) or time.monotonic() > end:
            break
        last = sig
        time.sleep(0.3)
    sql = _get(f"{api}/sql?details=true&planDescription=false&offset=0&length=100000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


def attribute(spans: list[dict], jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Executor metrics per span name. A stage counts once, for the first
    job that ran it; a skipped stage did no work."""
    name_of = {s["id"]: s["name"] for s in spans}
    owner = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j)
    out: dict[str, dict] = {}

    def acc(job) -> dict:
        name = name_of.get(job.get("jobGroup"), "unattributed")
        return out.setdefault(name, dict.fromkeys(EXEC_FIELDS, 0.0))

    for j in jobs:
        acc(j)["jobs"] += 1
    for st in stages:
        if st["status"] == "SKIPPED" or st["stageId"] not in owner:
            continue
        m = acc(owner[st["stageId"]])
        m["stages"] += 1
        m["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        m["executor_run_s"] += st["executorRunTime"] / 1e3
        m["executor_cpu_s"] += st["executorCpuTime"] / 1e9
        m["gc_s"] += st["jvmGcTime"] / 1e3
        m["shuffle_read_mb"] += st["shuffleReadBytes"] / _MB
        m["shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
        m["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / _MB
    return out


_PY_METRICS = {
    "data sent to Python workers": "bytes_sent_mb",
    "data returned from Python workers": "bytes_received_mb",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TOTAL = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?")


def _total(value: str) -> float:
    """The total of a SQL metric as the UI renders it: a plain number, or
    'total (min, med, max ...)' followed by a line that starts with it."""
    m = _TOTAL.search(value.split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2) or "B"]


def python_metrics(executions: list[dict]) -> dict[str, float]:
    """Bytes and rows that crossed to and from Python workers, from the SQL
    metrics of the Python exec nodes. A node shown again inside a later
    query's plan (a cached relation) is counted once."""
    out = {"bytes_sent_mb": 0.0, "bytes_received_mb": 0.0, "rows_returned": 0.0}
    seen = set()
    for ex in executions:
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if not any(k in metrics for k in _PY_METRICS):
                continue
            key = (node["nodeName"], tuple(sorted(metrics.items())))
            if key in seen:
                continue
            seen.add(key)
            for k, field in _PY_METRICS.items():
                if k in metrics:
                    out[field] += _total(metrics[k]) / _MB
            out["rows_returned"] += _total(metrics.get("number of output rows", "0"))
    return out
