"""Per-layer cost measured from outside the program.

``LayerTracer`` replaces each layer's entry point, in the module the caller
looks it up in, with a wrapper that sets ``spark.job.description`` to the
layer name on the calling thread. The label stays set after the call
returns, so the actions a caller runs on a lazily returned DataFrame count
toward the layer that built it (the metadata actions that re-run finalize
plans count toward ``stats``). A nested call restores the outer label when
it returns. Worker threads (the census and export pools) set their own
label and drop it when their outermost call returns.

After an operation, ``stage_rows`` and ``job_rows`` read the application
status store, and ``layer_metrics`` attributes executed stages to labels
and spans to layers.
"""

from __future__ import annotations

import functools
import threading
import time

JOB_DESCRIPTION = "spark.job.description"


class LayerTracer:
    def __init__(self, sc):
        self.sc = sc
        self.main_thread = threading.get_ident()
        self.events: list[tuple[int, float, str | None]] = []
        # time spent in the tracer's own label switches, on every thread
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object, object]] = []

    def _switch(self, label: str | None) -> None:
        t0 = time.perf_counter()
        self.sc.setLocalProperty(JOB_DESCRIPTION, label)
        with self._lock:
            self.events.append((threading.get_ident(), time.time(), label))
            self.overhead_s += time.perf_counter() - t0

    def begin(self, label: str) -> None:
        """Start an operation on the calling (main) thread."""
        self.events = []
        self.overhead_s = 0.0
        self._local.stack = []
        self._switch(label)

    def end(self) -> float:
        t = time.time()
        self.sc.setLocalProperty(JOB_DESCRIPTION, None)
        return t

    def wrap(self, module, attr: str, label) -> None:
        """Prepare a wrapper for ``module.attr`` (``install`` puts it in
        place). ``label`` is a layer name, or a function of the call's
        arguments returning one (or None: call untraced)."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            lab = label(*args, **kwargs) if callable(label) else label
            if lab is None:
                return orig(*args, **kwargs)
            stack = self._local.__dict__.setdefault("stack", [])
            stack.append(lab)
            self._switch(lab)
            try:
                return orig(*args, **kwargs)
            finally:
                stack.pop()
                if stack:
                    self._switch(stack[-1])
                elif threading.get_ident() != self.main_thread:
                    self._switch(None)

        self._patches.append((module, attr, orig, wrapper))

    def install(self) -> None:
        for module, attr, _, wrapper in self._patches:
            setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, orig, _ in self._patches:
            setattr(module, attr, orig)

    def spans(self, t_end: float) -> list[tuple[int, str, float, float]]:
        """(thread, layer, start, end): each label is held until the
        thread's next switch (the main thread's last label until t_end)."""
        by_thread: dict[int, list] = {}
        for tid, t, lab in self.events:
            by_thread.setdefault(tid, []).append((t, lab))
        return [(tid, lab, t, nxt[0])
                for tid, evs in by_thread.items()
                for (t, lab), nxt in zip(evs, evs[1:] + [(t_end, None)])
                if lab is not None and nxt[0] > t]


def _union(intervals):
    merged = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return merged


def _length(intervals) -> float:
    return sum(e - s for s, e in _union(intervals))


def _intersect_length(a, b) -> float:
    a, b = _union(a), _union(b)
    i = j = 0
    total = 0.0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if hi > lo:
            total += hi - lo
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


# --- status store -------------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def _epoch_s(date_opt):
    d = _opt(date_opt)
    return d.getTime() / 1000.0 if d is not None else None


def _seq(sc, scala_seq):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)


def _stage_list(sc, store):
    gw = sc._gateway
    return store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)


def max_ids(sc) -> tuple[int, int]:
    """(highest job id, highest stage id) so far; -1 when none."""
    store = sc._jsc.sc().statusStore()
    jobs = [j.jobId() for j in _seq(sc, store.jobsList(None))]
    stages = [s.stageId() for s in _seq(sc, _stage_list(sc, store))]
    return max(jobs, default=-1), max(stages, default=-1)


def stage_rows(sc, after_stage: int) -> list[dict]:
    """Stages with id > after_stage: status, label, run time, shuffle write,
    spill and GC, as plain dicts."""
    store = sc._jsc.sc().statusStore()
    rows = []
    for s in _seq(sc, _stage_list(sc, store)):
        if s.stageId() <= after_stage:
            continue
        rows.append({
            "stage": s.stageId(),
            "status": s.status().toString(),
            "label": _opt(s.description()),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "spill_mb": s.diskBytesSpilled() / 1e6,
            "gc_s": s.jvmGcTime() / 1000.0,
        })
    return rows


def job_rows(sc, after_job: int) -> list[dict]:
    store = sc._jsc.sc().statusStore()
    rows = []
    for j in _seq(sc, store.jobsList(None)):
        if j.jobId() <= after_job:
            continue
        start, end = _epoch_s(j.submissionTime()), _epoch_s(j.completionTime())
        if start is not None and end is not None:
            rows.append({"job": j.jobId(), "label": _opt(j.description()),
                         "start": start, "end": end})
    return rows


def executed(stages: list[dict]) -> list[dict]:
    """Stages that ran: skipped stages are listed too, unlabelled and with
    zero time."""
    return [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]


def layer_metrics(tracer: LayerTracer, t_end: float, stages: list[dict],
                  jobs: list[dict], layers: list[str]) -> dict:
    """Per-layer wall, task time, shuffle write, spill, GC, stage count and
    driver gap, plus the run-level unattributed stage count, the main
    thread's wall inside layers and the tracer's own time."""
    spans = tracer.spans(t_end)
    ran = executed(stages)
    out: dict[str, float] = {}
    for layer in layers:
        mine = [s for s in ran if s["label"] == layer]
        inside = [(start, end) for _, lab, start, end in spans if lab == layer]
        job_iv = [(j["start"], j["end"]) for j in jobs if j["label"] == layer]
        out[f"{layer}.wall_s"] = _length(inside)
        out[f"{layer}.task_core_s"] = sum(s["run_s"] for s in mine)
        out[f"{layer}.shuffle_write_mb"] = sum(s["shuffle_write_mb"] for s in mine)
        out[f"{layer}.spill_mb"] = sum(s["spill_mb"] for s in mine)
        out[f"{layer}.gc_s"] = sum(s["gc_s"] for s in mine)
        out[f"{layer}.stages"] = len(mine)
        out[f"{layer}.driver_gap_s"] = _length(inside) - _intersect_length(inside, job_iv)
    out["unattributed_stages"] = sum(1 for s in ran if s["label"] not in layers)
    out["blocking_wall_s"] = sum(end - start for tid, _, start, end in spans
                                 if tid == tracer.main_thread)
    out["tracing_overhead_s"] = tracer.overhead_s
    return out
