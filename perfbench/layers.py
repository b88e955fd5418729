"""Per-layer measurement from outside the package.

- :class:`Spans` wraps the public functions (and public methods of
  public classes) of each layer module and records one span per call:
  name, layer, start, end, parent and the Spark job group it ran in.
  Patching replaces the attribute
  in the defining module and in every package module that bound the
  same object by ``from ... import``, so calls resolve to the wrapper
  wherever they come from. Spans stay in memory until written out.
- :func:`read_event_log` parses the Spark event log of a traced run
  into one record per job: its group, submission time, and the summed
  metrics of its tasks. A job's group is its job group, plus the
  micro-batch id for the jobs of a streaming query (Spark gives each
  query its run id as job group and tags every job with its batch), so
  a span's jobs are those of its own query and micro-batch even when
  several queries run at once.
- :func:`make_progress_listener` builds a ``StreamingQueryListener``
  that keeps every progress event, for the trigger-phase breakdown.

Layers are named after the package modules.
"""

from __future__ import annotations

import bisect
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

LAYERS = {
    "session": ["streamtasks_spark.session"],
    "llmdata.similarity": ["streamtasks_spark.llmdata.similarity"],
    "llmdata.dedup": ["streamtasks_spark.llmdata.dedup"],
    "llmdata.textstats": ["streamtasks_spark.llmdata.textstats"],
    "llmdata.pipeline": ["streamtasks_spark.llmdata.pipeline"],
    "llmdata.quality": ["streamtasks_spark.llmdata.quality"],
    "llmdata.bpe": ["streamtasks_spark.llmdata.bpe"],
    "operators": [
        "streamtasks_spark.operators.chunks",
        "streamtasks_spark.operators.joins",
        "streamtasks_spark.operators.stateful",
        "streamtasks_spark.operators.timing",
    ],
    "functions": [
        "streamtasks_spark.functions.calculator",
        "streamtasks_spark.functions.fntask",
        "streamtasks_spark.functions.text",
        "streamtasks_spark.functions.timefmt",
    ],
    "relational": [
        "streamtasks_spark.relational.queries",
        "streamtasks_spark.relational.scale",
    ],
    "media": [
        "streamtasks_spark.media.capture",
        "streamtasks_spark.media.codec",
        "streamtasks_spark.media.container",
        "streamtasks_spark.media.inference",
        "streamtasks_spark.media.render",
    ],
    "streaming": [
        "streamtasks_spark.streaming.sources",
        "streamtasks_spark.streaming.sinks",
        "streamtasks_spark.streaming.stateful",
        "streamtasks_spark.streaming.windows",
    ],
    "core.state": ["streamtasks_spark.core.state"],
}


BATCH_ID_KEY = "streaming.sql.batchId"  # Spark's micro-batch job property


def group_key(job_group: str | None, batch_id: str | None) -> str:
    return f"{job_group or ''}/{batch_id}" if batch_id else job_group or ""


def current_group(sc) -> str:
    """The group of the jobs this thread submits now."""
    return group_key(sc.getLocalProperty("spark.jobGroup.id"),
                     sc.getLocalProperty(BATCH_ID_KEY))


class Spans:
    """Call spans at the layer boundaries, kept in memory. Once
    ``sc`` is set, each span also records the job group it ran in."""

    def __init__(self) -> None:
        # (id, name, layer, t0, t1, parent, group)
        self.records: list[tuple] = []
        self.sc = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple] = []

    def _wrap(self, fn, name: str, layer: str):
        spans = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(spans._local, "stack", None)
            if stack is None:
                stack = spans._local.stack = []
            with spans._lock:
                spans._next_id += 1
                sid = spans._next_id
            parent = stack[-1] if stack else 0
            stack.append(sid)
            group = current_group(spans.sc) if spans.sc is not None else ""
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                stack.pop()
                spans.records.append(
                    (sid, name, layer, t0, t1, parent, group))

        return traced

    def install(self) -> None:
        """Wrap every layer module's public callables."""
        originals: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(
                            obj, "__module__", None) != modname:
                        continue
                    if inspect.isfunction(obj):
                        w = self._wrap(obj, f"{modname}.{attr}", layer)
                        originals[id(obj)] = w
                        self._set(mod, attr, obj, w)
                    elif inspect.isclass(obj):
                        self._wrap_methods(obj, modname, layer)
        # rebind names that other package modules imported directly
        for modname, mod in list(sys.modules.items()):
            if not (modname.startswith("streamtasks_spark")
                    or modname == "__spark_entry__"):
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and obj is not w:
                    self._set(mod, attr, obj, w)

    def _wrap_methods(self, cls, modname: str, layer: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{modname}.{cls.__name__}.{attr}"
            if inspect.isfunction(raw):
                self._set(cls, attr, raw, self._wrap(raw, name, layer))
            elif isinstance(raw, staticmethod):
                self._set(cls, attr, raw,
                          staticmethod(self._wrap(raw.__func__, name, layer)))

    def _set(self, owner, attr: str, old, new) -> None:
        self._patches.append((owner, attr, old))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, layer, t0, t1, parent, group in self.records:
                f.write(json.dumps({"id": sid, "name": name, "layer": layer,
                                    "start": t0, "end": t1, "parent": parent,
                                    "group": group}) + "\n")


def layer_totals(records: list[tuple], t0: float, t1: float,
                 jobs: list[dict]) -> dict[str, float]:
    """``<layer>.s``, ``.calls`` and ``.jobs`` for spans that start in
    ``[t0, t1]``. A span counts toward ``.s`` and ``.jobs`` only when no
    ancestor belongs to the same layer, so recursion inside a layer is
    not counted twice; ``.jobs`` counts the Spark jobs of the span's own
    group submitted inside it."""
    job_times: dict[str, list[float]] = defaultdict(list)
    for j in jobs:
        job_times[j["group"]].append(j["submit"])
    for v in job_times.values():
        v.sort()
    inside = [r for r in records if t0 <= r[3] <= t1]
    by_id = {r[0]: r for r in inside}
    out: dict[str, float] = defaultdict(float)
    for sid, name, layer, s0, s1, parent, group in inside:
        out[f"{layer}.calls"] += 1
        p = by_id.get(parent)
        while p is not None and p[2] != layer:
            p = by_id.get(p[5])
        if p is not None:
            continue
        out[f"{layer}.s"] += s1 - s0
        times = job_times.get(group, [])
        out[f"{layer}.jobs"] += (bisect.bisect_right(times, s1)
                                 - bisect.bisect_left(times, s0))
    return out


def span_total(records: list[tuple], name: str, t0: float, t1: float
               ) -> tuple[float, int]:
    """Summed wall and call count of spans named ``name`` in a window."""
    sel = [r for r in records if r[1] == name and t0 <= r[3] <= t1]
    return sum(r[4] - r[3] for r in sel), len(sel)


_PY_ACCUMS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_boot_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per Spark job in the event log(s) under ``log_dir``:
    ``group``, ``submit`` (s), ``stages``, and the summed
    task metrics (``tasks``, ``run_ms``, ``cpu_ns``, ``gc_ms``,
    ``deser_ms``, ``sched_ms``, ``shuffle_read``, ``shuffle_write``,
    ``shuffle_write_ns``, ``py_boot_ms``, ``py_run_ms``, ``py_bytes``)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = defaultdict(float, {
                        "group": group_key(props.get("spark.jobGroup.id"),
                                           props.get(BATCH_ID_KEY)),
                        "submit": ev["Submission Time"] / 1e3,
                        "stages": float(len(ev["Stage IDs"])),
                    })
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    deser = m.get("Executor Deserialize Time", 0)
                    job["tasks"] += 1
                    job["run_ms"] += run
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["deser_ms"] += deser
                    job["sched_ms"] += max(0, (
                        info["Finish Time"] - info["Launch Time"] - run
                        - deser - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0)))
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                    job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    job["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
                    for acc in info.get("Accumulables", []):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            job[key] += float(acc.get("Update") or 0)
    return [jobs[k] for k in sorted(jobs)]


def engine_totals(jobs: list[dict], exec_wall: float, cores: int
                  ) -> dict[str, float]:
    """The ``engine.*`` per-layer metrics for a set of jobs whose
    execution took ``exec_wall`` seconds."""
    def tot(key: str) -> float:
        return sum(j[key] for j in jobs)

    run_s = tot("run_ms") / 1e3
    return {
        "engine.jobs": float(len(jobs)),
        "engine.stages": tot("stages"),
        "engine.tasks": tot("tasks"),
        "engine.sched_delay_s": tot("sched_ms") / 1e3,
        "engine.fixed_overhead_s": exec_wall - run_s / cores,
        "engine.task_run_s": run_s,
        "engine.task_cpu_s": tot("cpu_ns") / 1e9,
        "engine.gc_s": tot("gc_ms") / 1e3,
        "engine.task_deser_s": tot("deser_ms") / 1e3,
        "engine.shuffle_read_bytes": tot("shuffle_read"),
        "engine.shuffle_write_bytes": tot("shuffle_write"),
        "engine.shuffle_write_s": tot("shuffle_write_ns") / 1e9,
        "engine.pyworker_boot_ms": tot("py_boot_ms"),
        "engine.pyworker_run_s": tot("py_run_ms") / 1e3,
        "engine.pyworker_bytes": tot("py_bytes"),
    }


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps each progress event as a
    dict in ``.events``. The class is defined here, not at import, so
    that importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()
