"""Layer spans recorded from outside the package, and the Spark event log.

The benchmark never edits the engine. In a traced run it replaces each
layer's public entry points with a timing wrapper (``Tracer.install``),
tags the Spark jobs a span submits with ``setJobDescription`` so the
event log can attribute executor work to the layer, and afterwards
reads the log with ``datalake_iceberg_spark.ops.eventlog``.

A span's self time is its duration minus the time its child spans
cover; a layer's self time is the sum over its spans. Time inside a
traced unit that no span covers is the benchmark's own ``uncovered``
remainder.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from dataclasses import dataclass, field

TAG = "pb"
#: layers whose entry points a traced run wraps; ``session`` is timed
#: directly, before any unit of work
LAYERS = ("ingest", "streaming", "cdc", "tables", "queries")


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class Tracer:
    """Span recorder. ``on`` is flipped per unit of work, so a traced
    run pairs traced and untraced units and can state the overhead."""

    sc: object
    on: bool = False
    spans: list[Span] = field(default_factory=list)
    # (traced, start, end, paired): paired units are like work, so
    # traced and untraced ones compare for the overhead
    units: list[tuple[bool, float, float, bool]] = field(default_factory=list)
    _restore: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _tls: threading.local = field(default_factory=threading.local)
    _main: list[int] = field(default_factory=list)

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, layer: str, name: str, tag_jobs: bool = True) -> int:
        st = self._stack()
        with self._lock:
            # a span opened on a fresh thread (the streaming foreachBatch
            # callback) belongs to the span the main thread has open
            parent = st[-1] if st else (self._main[-1] if self._main else -1)
            self.spans.append(Span(layer, name, time.time(), parent=parent))
            idx = len(self.spans) - 1
        st.append(idx)
        if threading.current_thread() is threading.main_thread():
            self._main.append(idx)
        if tag_jobs:
            self.sc.setJobDescription(f"{TAG}:{layer}:{name}")
        return idx

    def close(self, idx: int, tag_jobs: bool = True) -> None:
        sp = self.spans[idx]
        sp.end = time.time()
        st = self._stack()
        st.pop()
        if self._main and self._main[-1] == idx:
            self._main.pop()
        with self._lock:
            if sp.parent >= 0:
                self.spans[sp.parent].children_s += sp.dur
        if tag_jobs:
            up = self.spans[st[-1]] if st else None
            self.sc.setJobDescription(f"{TAG}:{up.layer}:{up.name}" if up else None)

    def span(self, layer: str, name: str, fn, *args, tag_jobs: bool = True, **kw):
        """Run ``fn`` inside a span when tracing is on, bare otherwise."""
        if not self.on:
            return fn(*args, **kw)
        idx = self.open(layer, name, tag_jobs)
        try:
            return fn(*args, **kw)
        finally:
            self.close(idx, tag_jobs)

    def unit(self, traced: bool, fn, *args, paired: bool = True, **kw):
        """One unit of timed work (a drain, a read/fold cycle, a query
        pass); returns ``(result, wall seconds)``."""
        self.on = traced
        t0 = time.time()
        try:
            return fn(*args, **kw), time.time() - t0
        finally:
            self.units.append((traced, t0, time.time(), paired))
            self.on = False

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             tag_jobs: bool = True) -> None:
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def traced(*args, **kw):
            return self.span(layer, label, orig, *args, tag_jobs=tag_jobs, **kw)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap every layer's public entry points (see README.md)."""
        from datalake_iceberg_spark.cdc import pipeline
        from datalake_iceberg_spark.ingest import batch
        from datalake_iceberg_spark.streaming import runner
        from datalake_iceberg_spark.tables import LakeTable

        self.wrap(batch, "snapshot_to_table", "ingest")
        self.wrap(runner.CdcStreamRunner, "run_source", "streaming")
        for mod in (pipeline, runner):
            self.wrap(mod, "apply_cdc_changes", "cdc", "apply")
        self.wrap(pipeline, "transform_and_dedup", "cdc", "transform")
        # the streaming batch body calls the transform steps one by one
        for step in ("flatten_envelope", "cast_to_target_schema",
                     "dedup_latest", "split_upserts_deletes"):
            self.wrap(runner, step, "cdc", "transform")
        for m in ("merge", "delete_keys", "lookup", "scan", "read",
                  "rewrite_position_delete_files", "rewrite_data_files",
                  "expire_snapshots"):
            self.wrap(LakeTable, m, "tables", m)
        # manifest loads: called hundreds of times, submit no jobs
        self.wrap(LakeTable, "snapshot", "tables", "snapshot", tag_jobs=False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ---------------------------------------------------------- analysis
    def traced_wall(self) -> float:
        return sum(e - s for on, s, e, _ in self.units if on)

    def overhead_s(self) -> tuple[float, float]:
        """Mean traced unit wall minus mean untraced unit wall, and that
        difference as a share of the untraced mean. Untraced units come
        before and after the traced ones, so a run that is still warming
        up does not read as negative overhead."""
        on = [e - s for t, s, e, p in self.units if t and p]
        off = [e - s for t, s, e, p in self.units if p and not t]
        if not on or not off:
            return 0.0, 0.0
        d = statistics.fmean(on) - statistics.fmean(off)
        return d, d / statistics.fmean(off)

    def ops(self, layer: str, name: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and s.name == name]

    def mean_s(self, layer: str, name: str) -> float:
        d = [s.dur for s in self.ops(layer, name)]
        return statistics.fmean(d) if d else 0.0

    def self_by_layer(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.self_s
        return out

    def top_level_s(self) -> float:
        return sum(s.dur for s in self.spans if s.parent < 0)


# ------------------------------------------------------------ event log


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_counters(log_dir: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Spark counters for the jobs submitted inside traced units, keyed
    by the layer whose span tagged them (``other`` for untagged jobs,
    e.g. ones the stream execution thread submits) and ``all``."""
    import glob

    from datalake_iceberg_spark.ops import eventlog

    files = sorted(glob.glob(f"{log_dir}/*"))
    events = [ev for f in files for ev in eventlog.parse_events(f)]
    windows = [(s, e) for on, s, e, _ in tracer.units if on]

    def in_traced(ts_ms: float) -> bool:
        t = ts_ms / 1000.0
        return any(s <= t <= e for s, e in windows)

    job_layer: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_layer: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and in_traced(ev.get("Submission Time", 0)):
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            parts = desc.split(":")
            layer = parts[1] if len(parts) > 2 and parts[0] == TAG else "other"
            jid = ev["Job ID"]
            job_layer[jid] = layer
            job_span[jid] = [ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0]
            for si in ev.get("Stage Infos") or []:
                stage_layer[si["Stage ID"]] = layer
        elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in job_span:
            job_span[ev["Job ID"]][1] = ev.get("Completion Time", 0) / 1000.0

    stats = [st for st in eventlog.analyze_stages(iter(events)) if st.stage_id in stage_layer]
    keys = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "cpu_util", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "python_ms", "gc_ms", "task_skew_max", "driver_gap_s")
    out: dict[str, dict[str, float]] = {}
    for layer in (*LAYERS, "other", "all"):
        mine = [st for st in stats if layer == "all" or stage_layer[st.stage_id] == layer]
        jobs = [j for j, lay in job_layer.items() if layer == "all" or lay == layer]
        run = sum(st.run_time_ms for st in mine if st.n_tasks)
        cpu = sum(st.cpu_efficiency * st.run_time_ms for st in mine)
        row = dict.fromkeys(keys, 0.0)
        row.update(
            jobs=len(jobs), stages=len(mine), tasks=sum(st.n_tasks for st in mine),
            executor_run_ms=run,
            executor_cpu_ms=cpu - sum(st.python_time_ms for st in mine),
            cpu_util=cpu / run if run else 0.0,
            shuffle_read_bytes=sum(st.shuffle_read_bytes for st in mine),
            shuffle_write_bytes=sum(st.shuffle_write_bytes for st in mine),
            spill_bytes=sum(st.mem_spill_bytes + st.disk_spill_bytes for st in mine),
            python_ms=sum(st.python_time_ms for st in mine),
            gc_ms=sum(st.gc_fraction * st.run_time_ms for st in mine),
            task_skew_max=max((st.skew_ratio for st in mine if st.n_tasks >= 2), default=0.0),
        )
        out[layer] = row
    # driver gap: traced wall (or a layer's self intervals) not covered
    # by any Spark job
    busy = _union_len([tuple(v) for v in job_span.values()])
    out["all"]["driver_gap_s"] = max(0.0, tracer.traced_wall() - busy)
    jobs_iv = sorted(tuple(v) for v in job_span.values())
    for layer in LAYERS:
        out[layer]["driver_gap_s"] = _self_gap(tracer, layer, jobs_iv)
    return out


def _self_gap(tracer: Tracer, layer: str, jobs: list[tuple[float, float]]) -> float:
    """Seconds of ``layer``'s self time during which no job ran."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in tracer.spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    gap = 0.0
    for i, s in enumerate(tracer.spans):
        if s.layer != layer:
            continue
        inner = [(max(a, s.start), min(b, s.end)) for a, b in jobs + kids.get(i, [])
                 if b > s.start and a < s.end]
        gap += s.dur - _union_len(inner)
    return gap


def query_plan_ms(df) -> float:
    """Analysis + optimization + planning ms from the QueryExecution
    tracker, forcing the physical plan of ``df`` (no job runs)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)
