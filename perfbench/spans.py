"""In-memory span recorder and Spark status-store reader for traced runs.

A span is (name, start, end, thread, parent, attrs). Spans nest per
thread; a layer's self time is its span minus the time its direct
children cover. Nothing is written while a run measures: the caller
dumps the summary once, at exit.

Spark work is attributed by job id range (the DAG scheduler's next job
id before and after a window) and by job tag, never by the count of
retained jobs, which saturates at ``spark.ui.retainedJobs``.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

ENABLED = False  # flipped at run time: wrappers cost one flag check when off
_SPANS: list[list] = []  # [name, t0, t1, parent_index, attrs, child_s]
_LOCK = threading.Lock()
_TLS = threading.local()
_NULL = contextlib.nullcontext()


def _stack() -> list[int]:
    st = getattr(_TLS, "stack", None)
    if st is None:
        st = _TLS.stack = []
    return st


class span:
    """Context manager recording one span when tracing is on."""

    __slots__ = ("name", "attrs", "idx")

    def __init__(self, name: str, **attrs):
        attrs.setdefault("ctx", getattr(_TLS, "label", None))
        self.name, self.attrs, self.idx = name, attrs, None

    def __enter__(self):
        if ENABLED:
            st = _stack()
            with _LOCK:
                self.idx = len(_SPANS)
                _SPANS.append([self.name, time.perf_counter(), None, st[-1] if st else None, self.attrs, 0.0])
            st.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            rec = _SPANS[self.idx]
            rec[2] = time.perf_counter()
            _stack().pop()
            if rec[3] is not None:
                _SPANS[rec[3]][5] += rec[2] - rec[1]
        return False


def wrap(owner, attr: str, name: str, label: str | None = None, on_exit=None, spark=None):
    """Replace ``owner.attr`` with a span-recording wrapper. With
    ``label`` the wrapped call also marks its thread: spans opened inside
    it carry that label as their ``ctx``. ``on_exit(result, args, kwargs, span)`` may add attrs to the span;
    with ``spark`` (a callable returning the session) the Spark jobs the
    call starts carry a ``job_tag`` named after the span."""
    orig = getattr(owner, attr)

    def traced(*args, **kwargs):
        st = _stack()
        if not ENABLED or (st and _SPANS[st[-1]][0] == name):
            return orig(*args, **kwargs)  # off, or a nested call of the same layer verb
        with span(name) as sp, (job_tag(spark(), name) if spark is not None else _NULL):
            out = orig(*args, **kwargs)
            if on_exit is not None:
                on_exit(out, args, kwargs, sp)
            return out

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if label is None:
            return traced(*args, **kwargs)
        # the label is set even while tracing is off: a long-lived call
        # (an ingest stream) may start before the traced window does
        prev = getattr(_TLS, "label", None)
        _TLS.label = label
        try:
            return traced(*args, **kwargs)
        finally:
            _TLS.label = prev

    setattr(owner, attr, wrapper)


def add_to_parent(sp: span, **vals) -> None:
    """Add numeric ``vals`` to the attrs of the span that encloses ``sp``
    (e.g. the files a commit wrote, counted on the append that made it)."""
    if sp.idx is not None:
        parent = _SPANS[sp.idx][3]
        if parent is not None:
            attrs = _SPANS[parent][4]
            for k, v in vals.items():
                attrs[k] = attrs.get(k, 0) + v


def summarize() -> dict[str, dict]:
    """Per span name: calls, total ms, self ms (minus direct children),
    the per-context split (``ctx`` attr) and the sums of numeric attrs."""
    with _LOCK:
        recs = [s for s in _SPANS if s[2] is not None]
    out: dict[str, dict] = {}
    for name, t0, t1, _parent, attrs, child_s in recs:
        d = out.setdefault(name, {"calls": 0, "ms": 0.0, "self_ms": 0.0, "by_ctx": {}})
        dur = (t1 - t0) * 1000
        d["calls"] += 1
        d["ms"] += dur
        d["self_ms"] += max(dur - child_s * 1000, 0.0)
        c = d["by_ctx"].setdefault(str(attrs.get("ctx")), {"calls": 0, "ms": 0.0})
        c["calls"] += 1
        c["ms"] += dur
        for k, v in attrs.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                d[k] = d.get(k, 0) + v
    return out


# ── Spark side ───────────────────────────────────────────────────────────


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


TAG = "tfb."  # job tags the wrappers add: "tfb.<span name>.<n>"
_TAG_SEQ = iter(range(1, 1 << 62))


class job_tag:
    """Tag the Spark jobs this thread starts inside the block with
    ``tfb.<name>.<n>``, so they can be attributed under concurrency."""

    def __init__(self, spark, name: str):
        self.sc, self.tag = spark.sparkContext, f"{TAG}{name}.{next(_TAG_SEQ)}"

    def __enter__(self):
        self.sc.addJobTag(self.tag)
        return self

    def __exit__(self, *exc):
        self.sc.removeJobTag(self.tag)
        return False


def spark_work(spark, job_lo: int, job_hi: int) -> dict:
    """Jobs, stages, tasks and executor metrics of jobs with ids in
    [job_lo, job_hi), read from the status store, plus per span name the
    number of jobs carrying a ``job_tag`` of that span."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "tagged": {}}
    stage_ids: set[int] = set()
    for jid in range(job_lo, job_hi):
        try:
            j = store.job(jid)
        except Exception:  # noqa: BLE001 — evicted or never submitted
            continue
        out["jobs"] += 1
        for t in str(j.jobTags().mkString("\x1f")).split("\x1f"):
            if t.startswith(TAG):
                name = t[len(TAG) :].rsplit(".", 1)[0]
                out["tagged"][name] = out["tagged"].get(name, 0) + 1
        ids = j.stageIds()
        stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001
            continue
        if int(s.numCompleteTasks()) == 0:
            continue  # skipped stage (its shuffle output was reused)
        out["stages"] += 1
        out["tasks"] += int(s.numTasks())
        out["run_ms"] += float(s.executorRunTime())
        out["cpu_ms"] += float(s.executorCpuTime()) / 1e6
        out["gc_ms"] += float(s.jvmGcTime())
        out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return out


def planning_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations (ms) of an executed DataFrame."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for key in ("analysis", "optimization", "planning"):
            opt = phases.get(key)
            out[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    except Exception:  # noqa: BLE001 — a status frame / non-JVM frame
        pass
    return out
