"""Traced-run tooling: span recorder, layer wrappers, Spark counter
attribution and the per-layer metric roll-up.

Spans are recorded from outside the engine, around calls into each
layer's public functions. Every span sets its own Spark job group while
it is open, so the Spark event log (enabled for traced runs only)
attributes each job, task, shuffle byte and spilled byte to the
innermost span that launched it. Spans stay in memory and are written
out as JSON lines when the run ends.

Layers whose functions return lazy DataFrames are materialized inside
their span (persist + count), so the span times the layer's own work
rather than leaving it to whichever later action happens to run it.
Those count jobs are the benchmark's, not the engine's: they carry the
job description ``MATERIALIZE`` and are left out of every job count,
while their tasks and bytes stay on the layer that owns the work.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

from .harness import median

LAYERS = (
    "session",
    "functions.urls",
    "operators.filters",
    "operators.robots",
    "operators.dedup",
    "operators.politeness",
    "operators.extraction",
    "sources.fetch",
    "sources.state",
    "plans.crawl",
)
# layers whose Spark jobs are attributed in the per-layer metrics
COUNTER_LAYERS = LAYERS[1:]
SPARK_COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_bytes", "spill_bytes")
AUX = "trace.aux"  # bookkeeping (counts for span attributes): never a layer
OP = "perfbench.op"  # one traced closed-loop operation
WAVE = "plans.crawl.wave"
MATERIALIZE = "perfbench.materialize"  # job description of a wrapper's count


def layer_of(name: str) -> str | None:
    best = None
    for layer in LAYERS:
        if (name == layer or name.startswith(layer + ".")) and (best is None or len(layer) > len(best)):
            best = layer
    return best


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, comparable with Spark's event timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted = []

    def group(self, span_id: int) -> str:
        return f"perfbench-{self.run_id}-{span_id}"

    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(self.group(top.id), top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(
            id=len(self.spans), name=name,
            parent=self._stack[-1].id if self._stack else None,
            run_id=self.run_id, start=time.time(), attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group()

    def add_span(self, name: str, start: float, end: float, **attrs) -> Span:
        """Record a span measured elsewhere (session start, a crawl wave)."""
        sp = Span(
            id=len(self.spans), name=name,
            parent=self._stack[-1].id if self._stack else None,
            run_id=self.run_id, start=start, end=end, attrs=dict(attrs),
        )
        self.spans.append(sp)
        return sp

    # -- materialization -----------------------------------------------------

    def _materialize(self, out, sp: Span):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out, sp.attrs["rows"] = self._persist_count(out, sp)
            return out
        if isinstance(out, tuple) and out and all(isinstance(o, DataFrame) for o in out):
            done = []
            for i, o in enumerate(out):
                o, sp.attrs[f"rows_{i}"] = self._persist_count(o, sp)
                done.append(o)
            return tuple(done)
        return out

    def _persist_count(self, df, sp: Span):
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.sc.setJobGroup(self.group(sp.id), MATERIALIZE)
        try:
            rows = df.count()
        finally:
            self._set_group()
        self._persisted.append(df)
        return df, rows

    def release(self) -> None:
        """Drop the caches the wrappers created (call at an operation's end)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def wrap(self, name: str, fn, materialize: bool = True, after=None):
        """``fn`` timed in a span named ``name``. ``after(span, result, args,
        kwargs)`` runs in an aux span to add attributes to the layer span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if materialize:
                    out = self._materialize(out, sp)
            if after is not None:
                with self.span(AUX):
                    after(sp, out, args, kwargs)
            return out

        return wrapper

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def state_write_stats(sp: Span, _out, args, kwargs) -> None:
    """``after`` hook for ``ParquetStateStore.write(self, df, name, wave)``:
    files and bytes the write left on disk."""
    store = args[0]
    name = args[2] if len(args) > 2 else kwargs["name"]
    wave = args[3] if len(args) > 3 else kwargs["wave"]
    files = list((store.root / name / f"wave={wave}").glob("**/*.parquet"))
    sp.attrs["files"] = len(files)
    sp.attrs["bytes"] = sum(f.stat().st_size for f in files)


# ---------------------------------------------------------------------------
# Spark event log → per-job-group counters
# ---------------------------------------------------------------------------

def read_event_log(events_dir: Path) -> list[dict]:
    """Jobs from the event log: [{job, group, description, submitted, tasks,
    failed_tasks, shuffle_bytes, spill_bytes}]. Shuffle bytes are bytes
    written plus bytes read; spill bytes are disk bytes spilled."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes each application's log as a directory of
    # ``events_<n>_<app>`` files next to status markers and checksums
    paths = sorted(Path(events_dir).rglob("events_*"))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {events_dir}")
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "job": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "description": props.get("spark.job.description"),
                        "submitted": ev.get("Submission Time", 0) / 1000.0,
                        "tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        j["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["shuffle_bytes"] += (
                        sw.get("Shuffle Bytes Written", 0)
                        + sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                    )
                    j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


# ---------------------------------------------------------------------------
# roll-up
# ---------------------------------------------------------------------------

def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reached = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reached), min(b, hi)
        if b > a:
            total += b - a
            reached = b
    return total


def per_layer_names() -> list[str]:
    names = [
        "session.start_s",
        "functions.urls.canonicalize_s",
        "functions.urls.rows_per_s",
        "operators.dedup.dedup_s",
        "operators.dedup.fresh_rows",
        "operators.dedup.bloom_flagged_ratio",
        "operators.dedup.bloom_false_positive_ratio",
        "operators.dedup.bloom_delta_s",
        "operators.dedup.bloom_build_s",
        "operators.dedup.intra_wave_s",
        "operators.politeness.schedule_s",
        "operators.politeness.scheduled_rows",
        "operators.politeness.deferred_rows",
        "operators.filters.filter_s",
        "operators.robots.robots_s",
        "sources.fetch.fetch_s",
        "sources.fetch.rows",
        "sources.fetch.ok_ratio",
        "operators.extraction.extract_s",
        "operators.extraction.pages_per_s",
        "sources.state.write_s",
        "sources.state.files_written",
        "sources.state.bytes_written",
        "sources.state.read_s",
        "plans.crawl.waves",
        "plans.crawl.wave_p50_s",
        "plans.crawl.spark_jobs_per_wave",
        "plans.crawl.orchestration_s",
        "plans.crawl.resume_s",
    ]
    names += [f"spark.{c}" for c in SPARK_COUNTERS]
    names += [f"{layer}.spark.{c}" for layer in COUNTER_LAYERS for c in SPARK_COUNTERS]
    names += ["trace.untraced_op_s", "trace.traced_op_s", "trace.overhead_s"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith(("bytes", "bytes_written")):
        return "B"
    return "count"


def roll_up(tracer: Tracer, jobs: list[dict], op_name: str) -> dict[str, float]:
    """Per-layer metrics from the recorded spans and event-log jobs.

    Times and counts are per traced operation (spans under a span named
    ``op_name``) and averaged over those operations; set-up spans
    (session start, the bloom build outside any operation) count once.
    """
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def op_root(sp: Span) -> int | None:
        while sp is not None:
            if sp.name == op_name:
                return sp.id
            sp = by_id.get(sp.parent) if sp.parent is not None else None
        return None

    ops = [s for s in spans if s.name == op_name]
    n_ops = max(1, len(ops))
    in_op = {s.id: op_root(s) for s in spans}

    def spans_named(*names, setup=False):
        return [s for s in spans if s.name in names and (setup or in_op[s.id] is not None)]

    def secs(*names, setup=False) -> float:
        return sum(s.seconds for s in spans_named(*names, setup=setup))

    def attr(names, key) -> float:
        return float(sum(s.attrs.get(key, 0) for s in spans_named(*names)))

    m: dict[str, float] = {"plans.crawl.resume_s": 0.0}  # set by site_crawl
    m["session.start_s"] = secs("session.start", setup=True)  # once per run

    canon = ("functions.urls.with_canonical",)
    t = secs(*canon)
    m["functions.urls.canonicalize_s"] = t / n_ops
    m["functions.urls.rows_per_s"] = attr(canon, "rows") / t if t else 0.0

    dd = ("operators.dedup.dedupe_against_seen",)
    m["operators.dedup.dedup_s"] = secs(*dd) / n_ops
    m["operators.dedup.fresh_rows"] = attr(dd, "rows") / n_ops
    flagged = attr(dd, "bloom_flagged")
    cands = attr(dd, "bloom_candidates")
    m["operators.dedup.bloom_flagged_ratio"] = flagged / cands if cands else 0.0
    m["operators.dedup.bloom_false_positive_ratio"] = (
        attr(dd, "bloom_false_positives") / flagged if flagged else 0.0
    )
    m["operators.dedup.bloom_delta_s"] = secs(
        "operators.dedup.build_bloom_from_hashes",
        "operators.dedup.build_delta_bloom",
        "operators.dedup.ShardedBloom.merge",
    ) / n_ops
    # a full build is set-up work: the median over every build in the run
    builds = spans_named("operators.dedup.build_bloom", setup=True)
    m["operators.dedup.bloom_build_s"] = median([s.seconds for s in builds]) if builds else 0.0
    m["operators.dedup.intra_wave_s"] = secs("operators.dedup.dedupe_intra_wave") / n_ops

    sw = ("operators.politeness.schedule_wave",)
    m["operators.politeness.schedule_s"] = secs(*sw) / n_ops
    m["operators.politeness.scheduled_rows"] = attr(sw, "rows_0") / n_ops
    m["operators.politeness.deferred_rows"] = attr(sw, "rows_1") / n_ops

    m["operators.filters.filter_s"] = secs(
        "operators.filters.apply_prefetch_filters", "operators.filters.normalize_job_rules"
    ) / n_ops
    m["operators.robots.robots_s"] = secs("operators.robots.apply_robots") / n_ops

    fe = ("sources.fetch.fetch",)
    m["sources.fetch.fetch_s"] = secs(*fe) / n_ops
    rows = attr(fe, "rows")
    m["sources.fetch.rows"] = rows / n_ops
    m["sources.fetch.ok_ratio"] = attr(fe, "ok_rows") / rows if rows else 0.0

    ex = ("operators.extraction.extract_spans",)
    t = secs(*ex)
    m["operators.extraction.extract_s"] = t / n_ops
    m["operators.extraction.pages_per_s"] = attr(ex, "rows") / t if t else 0.0

    wr = ("sources.state.write",)
    m["sources.state.write_s"] = secs(*wr) / n_ops
    m["sources.state.files_written"] = attr(wr, "files") / n_ops
    m["sources.state.bytes_written"] = attr(wr, "bytes") / n_ops
    m["sources.state.read_s"] = secs("sources.state.read", "sources.state.read_accumulated") / n_ops

    # crawl waves: synthetic spans [commit - wave seconds, commit]
    waves = spans_named(WAVE)
    layer_iv = [
        (s.start, s.end) for s in spans
        if in_op[s.id] is not None and s.name not in (WAVE, AUX, op_name)
        and layer_of(s.name) not in (None, "plans.crawl")
    ]
    aux_iv = [(s.start, s.end) for s in spans if s.name == AUX]
    m["plans.crawl.waves"] = len(waves) / n_ops
    m["plans.crawl.wave_p50_s"] = median([w.seconds for w in waves]) if waves else 0.0
    group_span = {tracer.group(s.id): s for s in spans}
    engine_jobs = [
        j for j in jobs
        if j["group"] in group_span and group_span[j["group"]].name != AUX
    ]
    wave_jobs = sum(
        1 for j in engine_jobs for w in waves
        if j["description"] != MATERIALIZE and w.start <= j["submitted"] <= w.end
    )
    m["plans.crawl.spark_jobs_per_wave"] = wave_jobs / len(waves) if waves else 0.0
    m["plans.crawl.orchestration_s"] = sum(
        w.seconds - _covered(layer_iv + aux_iv, w.start, w.end) for w in waves
    ) / n_ops

    # Spark counters: whole workload (traced operations) and per layer;
    # a wrapper's materializing count adds tasks and bytes, never a job
    totals = {c: 0.0 for c in SPARK_COUNTERS}
    per_layer = {layer: {c: 0.0 for c in SPARK_COUNTERS} for layer in COUNTER_LAYERS}
    for j in engine_jobs:
        sp = group_span[j["group"]]
        if in_op[sp.id] is None:
            continue
        jobs_run = 0 if j["description"] == MATERIALIZE else 1
        vals = {"jobs": jobs_run, **{c: j[c] for c in SPARK_COUNTERS if c != "jobs"}}
        for c in SPARK_COUNTERS:
            totals[c] += vals[c]
        layer = layer_of(sp.name)
        if layer in per_layer:
            for c in SPARK_COUNTERS:
                per_layer[layer][c] += vals[c]
    for c in SPARK_COUNTERS:
        m[f"spark.{c}"] = totals[c] / n_ops
    for layer in COUNTER_LAYERS:
        for c in SPARK_COUNTERS:
            m[f"{layer}.spark.{c}"] = per_layer[layer][c] / n_ops
    return m
