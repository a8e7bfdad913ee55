"""Traced mode: spans around public module functions, seen from outside.

Spans are opened by wrappers that :class:`Tracer` installs over module
attributes of the program (``patch``) and removes again (``unpatch``),
so an untraced op runs the program exactly as shipped. Each span records
name, start, end, parent and the op (run id) it belongs to; spans stay
in memory and are written out once at the end.

While a span is open its id is a Spark job tag, so every Spark job a
call triggers is attributed to the innermost span. Jobs started on
other threads (streaming micro-batches) carry no tag and are attributed
to the innermost span open when they started. Job, task, shuffle, spill
and GC figures come from the Spark event log, which the traced process
enables at session start.

A DataFrame returned lazily is materialized inside its span (a ``noop``
write that also observes its row count), so the span holds the work of
computing it. That work includes recomputing its own lazy inputs, and
it is extra work the untraced run never does: the tracing overhead is
reported as traced minus untraced makespan.
"""

from __future__ import annotations

import copy
import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# The layer spans of an op must cover this share of its traced makespan;
# the rest is benchmark glue between calls.
ACCOUNTED_MIN = 0.90


class Tracer:
    """Spans, counters and the installed wrappers of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._patched: list[tuple[object, str, object]] = []
        self._obs = itertools.count()

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        """A span; with ``tag_jobs=False`` no job tags are set while it is
        open (a streaming query copies the starting thread's tags, which
        PySpark's listener cannot convert), so its jobs are attributed
        by time."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        sc = self.spark.sparkContext
        held = sc.getJobTags()
        if tag_jobs:
            sc.addJobTag(f"bench-span-{sid}")
        else:
            sc.clearJobTags()
        try:
            yield rec
        finally:
            sc.clearJobTags()
            for tag in held:
                sc.addJobTag(tag)
            self.stack.pop()
            rec["end"] = time.time()

    def count(self, name: str, value: float) -> None:
        self.counts[self.op][name] += value

    def materialize(self, df) -> int:
        """Compute ``df`` in full with one job; returns its row count."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"bench-{next(self._obs)}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        return int(obs.get["rows"])

    # -- wrappers ---------------------------------------------------------

    def wrap(self, fn, name: str, materialize: bool = False, tag_jobs: bool = True):
        """``fn`` inside a span; with ``materialize``, every static
        DataFrame it returns is computed in the span, its row count kept
        in the span's ``rows_out`` list and added to the
        ``<name>.rows_out`` counter (``rows_out_<i>`` for the i-th
        DataFrame of a returned tuple, i >= 1)."""
        from pyspark.sql import DataFrame

        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, tag_jobs) as rec:
                out = fn(*args, **kwargs)
                if materialize:
                    rec["rows_out"] = []
                    for i, df in enumerate(out if isinstance(out, tuple) else (out,)):
                        if isinstance(df, DataFrame) and not df.isStreaming:
                            rows = tracer.materialize(df)
                            rec["rows_out"].append(rows)
                            tracer.count(f"{name}.rows_out{f'_{i}' if i else ''}", rows)
                return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, target, attr: str, name: str, materialize: bool = False, tag_jobs: bool = True) -> None:
        original = getattr(target, attr)
        self._patched.append((target, attr, original))
        setattr(target, attr, self.wrap(original, name, materialize, tag_jobs))

    def unpatch(self) -> None:
        for target, attr, original in reversed(self._patched):
            setattr(target, attr, original)
        self._patched.clear()

    # -- analysis ---------------------------------------------------------

    def op_spans(self, op: int, name: str | None = None, window: tuple[float, float] | None = None) -> list[dict]:
        """The op's spans; only those called ``name`` and only those
        starting inside ``window`` (wall seconds) when given."""
        return [
            s for s in self.spans
            if s["op"] == op and (name is None or s["name"] == name)
            and (window is None or window[0] <= s["start"] <= window[1])
        ]

    def total_s(self, op: int, name: str, window: tuple[float, float] | None = None) -> float:
        """Summed duration of the op's spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.op_spans(op, name, window))

    def self_times(self, op: int) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        spans = self.op_spans(op)
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        return {s["id"]: (s["end"] - s["start"]) - _union(kids[s["id"]]) for s in spans}

    def layer_self_s(self, op: int) -> dict[str, float]:
        """Self time summed per span name."""
        st = self.self_times(op)
        out: dict[str, float] = defaultdict(float)
        for s in self.op_spans(op):
            out[s["name"]] += st[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": {str(k): v for k, v in self.counts.items()}}, f)


def _union(spans: list[dict]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda x: x["start"]):
        if cur_e is None or s["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s["start"], s["end"]
        else:
            cur_e = max(cur_e, s["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class BackendProxy:
    """Times the provider boundary without hiding any of the backend's
    optional methods: ``submit_spark`` is exposed only when the wrapped
    backend has it (the orchestrator probes with ``getattr``), everything
    else is delegated, and pickling (for executor-side ``fetch``) ships
    the wrapped backend itself."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.submit_window: tuple[float, float] | None = None
        self.terminal_at: dict[str, float] = {}
        self.polls = 0
        if hasattr(inner, "submit_spark"):
            self.submit_spark = self._submit_spark

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def __reduce__(self):
        return (copy.copy, (self._inner,))

    def submit(self, input_path, output_path, meta):
        with self._tracer.span("orchestrator.backend_submit"):
            t0 = time.time()
            out = self._inner.submit(input_path, output_path, meta)
            self.submit_window = (t0, time.time())
            return out

    def _submit_spark(self, spark, input_path, output_path, meta, **kwargs):
        with self._tracer.span("orchestrator.backend_submit"):
            t0 = time.time()
            out = self._inner.submit_spark(spark, input_path, output_path, meta, **kwargs)
            self.submit_window = (t0, time.time())
            return out

    def status(self, batch_id):
        with self._tracer.span("orchestrator.poll"):
            state = self._inner.status(batch_id)
        self.polls += 1
        if state in ("completed", "failed", "expired", "cancelled"):
            self.terminal_at.setdefault(batch_id, time.time())
        return state

    def poll_wait_s(self) -> float:
        """Wall time from the end of submit until the last batch was
        first seen terminal: the time the job waited on the provider."""
        if self.submit_window is None or not self.terminal_at:
            return 0.0
        return max(0.0, max(self.terminal_at.values()) - self.submit_window[1])


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from every event log under ``log_dir``: id, wall interval,
    tags, streaming batch id, and per-job task metrics summed."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path).split(".")[0]
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut short by an unfinished flush
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (app, ev["Job ID"])
                    tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
                    jobs[key] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tags": tags,
                        "stream_batch": props.get("streaming.sql.batchId"),
                        "stream_query": props.get("sql.streaming.queryId"),
                        "tasks": 0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_write": 0,
                        "shuffle_read": 0,
                        "spill": 0,
                        "reduce_tasks": 0,
                    }
                    for st in ev.get("Stage Infos", []):
                        stage_job.setdefault((app, st["Stage ID"]), key)
                elif kind == "SparkListenerJobEnd":
                    key = (app, ev["Job ID"])
                    if key in jobs:
                        jobs[key]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    sk = (app, ev["Stage ID"])
                    job = jobs.get(stage_job.get(sk))
                    m = ev.get("Task Metrics") or {}
                    if job is None:
                        continue
                    job["tasks"] += 1
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    st = ev.get("Stage Info") or {}
                    job = jobs.get(stage_job.get((app, st.get("Stage ID"))))
                    if job is not None and st.get("Parent IDs"):
                        job["reduce_tasks"] = max(job["reduce_tasks"], st.get("Number of Tasks", 0))
    out = [dict(j) for j in jobs.values() if j["end"] is not None]
    out.sort(key=lambda j: j["start"])
    return out


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """Span id -> jobs: by the innermost span tag a job carries, else by
    the innermost span open when the job started."""
    by_span: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        ids = [int(t.rsplit("-", 1)[1]) for t in j["tags"] if t.startswith("bench-span-")]
        if ids:
            by_span[max(ids)].append(j)
            continue
        open_spans = [s for s in tracer.spans if s["end"] is not None and s["start"] <= j["start"] <= s["end"]]
        if open_spans:
            by_span[max(s["id"] for s in open_spans)].append(j)
    return by_span


def busy_s(jobs: list[dict], lo: float, hi: float) -> float:
    """Wall time within [lo, hi] during which at least one job ran."""
    clipped = [{"start": max(lo, j["start"]), "end": min(hi, j["end"])} for j in jobs if j["end"] > lo and j["start"] < hi]
    return _union(clipped)


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s last action,
    from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs() / 1000.0
    return total
