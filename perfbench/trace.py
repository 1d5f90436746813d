"""Spans around calls into the package, and attribution of Spark's own
event log to them.

Every call the benchmark makes into the package runs inside a span named
``<module>.<operation>`` (``sources``, ``plans``, ``streaming``,
``operators``) or ``bench.<step>`` for the benchmark's own steps. In a
traced run the tracer additionally

- tags each span's Spark jobs with ``setJobGroup(<span id>, <name>)``;
- wraps package functions that other package functions call (for
  instance ``write_bronze`` inside ``run_pipeline``), so their time and
  jobs land in their own module; the wrapping replaces module attributes
  from outside the package and is undone by ``unwrap_all``;
- turns on Spark's event log (uncompressed, not rolled) in the run
  directory. ``attribute`` folds its ``JobStart``/``TaskEnd`` records into
  per-span and per-module task metrics. A job belongs to the span whose id
  is its job group; jobs started on threads that do not carry the group
  (the streaming engine's) fall back to the innermost span open at their
  submission time. Write jobs carry no ``callSite``, so the group is what
  attributes them.

Spans are cheap (two clock reads), so untraced runs keep them to time
calls; only the job-group calls, the wrapping and the event log are
switched by ``enabled``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

MODULES = ("session", "sources", "plans", "streaming", "operators")


def module_of(name: str) -> str:
    head = name.split(".", 1)[0]
    return head if head in MODULES else "bench"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext of the live session (traced runs)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "wall0": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["wall1"] = time.time()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [r["s"] for r in self.spans if r["name"] == name and "s" in r]

    # --- wrapping package functions (traced runs) ---------------------------

    def wrap(self, owner, attr: str, name: str, key=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside span ``name``;
        ``key(args)`` is recorded on the span as its ``key``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, key=key(args) if key else None):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def wrap_everywhere(self, func, name: str, key=None) -> None:
        """Wrap ``func`` in every loaded package module that imported it by
        name (``from ... import load_table``)."""
        import sys

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("mini_log_lakehouse_spark") and mod is not None:
                for attr, value in list(vars(mod).items()):
                    if value is func:
                        self.wrap(mod, attr, name, key)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def eventlog_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        # Spark 4 defaults to zstd-compressed, rolled logs in an
        # eventlog_v2_* directory; plain JSON lines are parsed directly.
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _read_events(directory: str):
    for path in sorted(glob.glob(os.path.join(directory, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                for line in fh:
                    yield json.loads(line)


_ZERO = {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
         "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
         "tasks": 0, "jobs": 0}


def attribute(directory: str, spans: list[dict]) -> dict:
    """Fold the event logs under ``directory`` into task metrics per span
    id and per module, plus the call sites of each module's jobs."""
    by_id = {s["id"]: s for s in spans}
    closed = [s for s in spans if "wall1" in s]
    job_span: dict[tuple[int, int], str | None] = {}
    stage_job: dict[tuple[int, int], tuple[int, int]] = {}
    call_sites: dict[str, dict[str, int]] = {}
    per_span: dict[str, dict] = {}
    app = -1

    def innermost(ms: float) -> str | None:
        best = None
        for s in closed:
            if s["wall0"] * 1000 <= ms <= s["wall1"] * 1000:
                if best is None or s["wall0"] >= best["wall0"]:
                    best = s
        return best["id"] if best else None

    def bucket(span_id):
        return per_span.setdefault(span_id, dict(_ZERO))

    for ev in _read_events(directory):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app += 1  # job and stage ids restart with each SparkContext
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            sid = group if group in by_id else innermost(ev.get("Submission Time", 0))
            key = (app, ev["Job ID"])
            job_span[key] = sid
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault((app, stage), key)
            bucket(sid)["jobs"] += 1
            site = props.get("callSite.short") or "(no call site: write or streaming)"
            mod = module_of(by_id[sid]["name"]) if sid in by_id else "bench"
            sites = call_sites.setdefault(mod, {})
            sites[site] = sites.get(site, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            job = stage_job.get((app, ev.get("Stage ID")))
            if not m or job is None:
                continue
            b = bucket(job_span.get(job))
            b["tasks"] += 1
            b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            b["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 2**20
            b["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 2**20
    per_module = {m: dict(_ZERO) for m in MODULES + ("bench",)}
    for sid, vals in per_span.items():
        mod = module_of(by_id[sid]["name"]) if sid in by_id else "bench"
        for k, v in vals.items():
            per_module[mod][k] += v
    return {"per_span": per_span, "per_module": per_module, "call_sites": call_sites}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per module of span time not covered by child spans."""
    child_s: dict[str, float] = {}
    for s in spans:
        if s.get("parent") and "s" in s:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["s"]
    out: dict[str, float] = {}
    for s in spans:
        if "s" in s:
            mod = module_of(s["name"])
            out[mod] = out.get(mod, 0.0) + s["s"] - child_s.get(s["id"], 0.0)
    return out


def jobs_in(attributed: dict, spans: list[dict], name: str) -> list[int]:
    """Jobs per span instance of ``name``, counting its child spans' jobs."""
    children: dict[str, list[str]] = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s["id"])
    per_span = attributed["per_span"]

    def total(sid: str) -> int:
        return per_span.get(sid, _ZERO)["jobs"] + sum(total(c) for c in children.get(sid, ()))

    return [total(s["id"]) for s in spans if s["name"] == name]


class BatchListener:
    """Collects streaming micro-batch progress (``durationMs``) through a
    ``StreamingQueryListener`` registered on the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append({"batch": p.batchId, "rows": p.numInputRows,
                                "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
