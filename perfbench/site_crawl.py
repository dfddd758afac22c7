"""Workload ``site_crawl``: one complete checkpointed crawl, interrupted
and resumed.

One closed-loop client runs whole crawls back to back. A crawl is
``CrawlEngine`` with a ``ParquetStateStore`` state dir, the replay
``TablePageFetcher`` and robots rules over ``generate_graph(seed=…)``:

1. ``run(max_waves=INTERRUPT_AFTER)`` — then the crawl is interrupted;
2. ``CrawlEngine.resume`` bounded to exactly one wave through
   ``config.max_waves`` — its wall time is ``resume_s``;
3. a second ``resume`` that finishes the crawl. With a depth limit of 1
   the crawl has two waves, so this leg runs no wave: it reloads the
   checkpoint and finds nothing left to crawl.

Every job's depth limit is set to ``DEPTH_LIMIT``, so every seed crawls
the same number of waves (BFS levels 0..DEPTH_LIMIT) and the time per
crawl does not depend on the seed's graph depth. The seen-set stays far
below ``use_bloom_over``, so the bloom filter is bypassed.

A crawl takes longer than a run's ``--seconds``, so an untraced run
measures one crawl: the first in a fresh JVM and Python-worker pool, what
a user pays when a crawl job starts. Its cost is its CPU seconds summed
over the driver, the JVM and the Python workers (``harness.Meter``); on
4 cores a cold crawl used about 155-160 CPU seconds, the next one in the
same JVM about 100. Its wall time is reported alongside. A warm-up wave
would cost about 30 s of wall time per run, which the benchmark's time
budget does not allow.

The traced run runs the first leg once, untraced: it is the first wave in
the JVM, and tracing it too would cost another wave, which would take the
run past the time a run may take on a loaded host. The checkpoint it
leaves is copied, and the crawl is resumed from each copy, untraced and
then traced. The traced operation, and the tracing overhead, are
therefore both resume legs of a crawl (wave 1 and the final resume).

Checked against ``testing.graph.simulate_crawl``: the final seen-set,
the per-wave scheduled counts and the emitted URLs must be equal.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, replace

from pyspark.sql import functions as F

import searchgov_spider_spark.plans.crawl as crawl_mod
from searchgov_spider_spark.config import CrawlConfig
from searchgov_spider_spark.plans.crawl import CrawlEngine
from searchgov_spider_spark.sources.fetch import TablePageFetcher
from searchgov_spider_spark.sources.state import ParquetStateStore
from searchgov_spider_spark.testing.graph import generate_graph, graph_to_dfs, simulate_crawl

from .harness import Cost, Meter, median
from .outcome import Outcome
from .trace import AUX, OP, WAVE, state_write_stats

N_PAGES = 2000
BRANCHING = 128
DEPTH_LIMIT = 1
INTERRUPT_AFTER = 1  # waves before the crawl is interrupted
CONFIG = CrawlConfig(wave_seconds=3600.0)
SETUP_REPEATS = 3


def build_graph(seed: int, n_pages: int = N_PAGES) -> dict:
    graph = generate_graph(n_pages=n_pages, seed=seed, branching=BRANCHING)
    # seeds rows: (name, allowed, starts, allow_qs, handle_js, target, depth, deny, prio)
    graph["seeds_rows"] = [row[:6] + (DEPTH_LIMIT,) + row[7:] for row in graph["seeds_rows"]]
    return graph


@dataclass
class Inputs:
    graph: dict
    pages: object
    seeds: object
    robots: object

    def release(self):
        self.pages.unpersist()


def build_inputs(spark, seed: int, n_pages: int) -> Inputs:
    """Set-up: the synthetic web and its tables (pages cached like a
    replay store)."""
    graph = build_graph(seed, n_pages)
    pages, seeds, robots = graph_to_dfs(spark, graph)
    pages = pages.cache()
    pages.count()
    return Inputs(graph, pages, seeds, robots)


@dataclass
class Crawl:
    legs: list  # CrawlResult per leg
    seconds: float
    cpu_s: float
    resume_s: float
    resumes_s: float  # both resume legs
    state_dir: str


def interrupted(spark, inputs: Inputs, state_dir: str):
    """The first leg: ``run(max_waves=INTERRUPT_AFTER)``, then the crawl is
    interrupted. Returns (CrawlResult, Cost)."""
    meter = Meter()
    engine = CrawlEngine(
        spark, inputs.seeds, TablePageFetcher(inputs.pages), robots=inputs.robots, config=CONFIG,
        state_dir=state_dir,
    )
    first = engine.run(max_waves=INTERRUPT_AFTER)
    return first, meter.read()


def resumed(spark, inputs: Inputs, state_dir: str, first, first_cost: Cost, leg=lambda name: nullcontext()) -> Crawl:
    """The resume legs of a crawl interrupted by ``interrupted``: one
    bounded to a single wave, then one that finishes the crawl."""
    fetcher = TablePageFetcher(inputs.pages)
    meter = Meter()
    t1 = time.perf_counter()
    with leg("plans.crawl.resume"):
        one_wave = CrawlEngine.resume(
            spark, inputs.seeds, fetcher, state_dir, robots=inputs.robots,
            config=replace(CONFIG, max_waves=INTERRUPT_AFTER + 1),
        )
    t2 = time.perf_counter()
    with leg("plans.crawl.resume"):
        rest = CrawlEngine.resume(spark, inputs.seeds, fetcher, state_dir, robots=inputs.robots, config=CONFIG)
    t3 = time.perf_counter()
    cost = meter.read()
    return Crawl(
        [first, one_wave, rest], first_cost.wall_s + t3 - t1, first_cost.cpu_s + cost.cpu_s,
        t2 - t1, t3 - t1, state_dir,
    )


def crawl_once(spark, inputs: Inputs, state_dir: str) -> Crawl:
    """One interrupted-and-resumed crawl."""
    first, first_cost = interrupted(spark, inputs, state_dir)
    return resumed(spark, inputs, state_dir, first, first_cost)


def crawl_problems(expected, waves_per_leg, scheduled_per_wave, seen, emitted, n_documents) -> list[str]:
    problems = []
    if waves_per_leg[1] != 1:
        problems.append(f"bounded resume ran {waves_per_leg[1]} waves, not 1")
    if scheduled_per_wave != expected.scheduled_per_wave:
        problems.append(f"scheduled per wave {scheduled_per_wave} != oracle {expected.scheduled_per_wave}")
    if seen != expected.seen:
        problems.append(f"seen-set differs from oracle in {len(seen ^ expected.seen)} URLs")
    if emitted != expected.emitted:
        problems.append(f"emitted URLs differ from oracle in {len(emitted ^ expected.emitted)} URLs")
    if n_documents != expected.documents:
        problems.append(f"{n_documents} documents, oracle says {expected.documents}")
    return problems


def check_crawl(spark, crawl: Crawl, expected) -> list[str]:
    docs = ParquetStateStore(spark, crawl.state_dir, CONFIG.frontier_buckets).read_accumulated("documents")
    urls = [r["url"] for r in docs.select("url").collect()]
    return crawl_problems(
        expected,
        [len(leg.waves) for leg in crawl.legs],
        [n for leg in crawl.legs for n in leg.scheduled_per_wave],
        {r["canon_url"] for r in crawl.legs[-1].seen.select("canon_url").collect()},
        set(urls),
        len(urls),
    )


# ---------------------------------------------------------------------------
# traced run: wrappers installed at the names plans/crawl.py imports
# ---------------------------------------------------------------------------

_MODULE_LAYERS = {
    # name in plans.crawl: (span name, materialize the result)
    "with_canonical": ("functions.urls.with_canonical", True),
    "apply_prefetch_filters": ("operators.filters.apply_prefetch_filters", True),
    # the engine caches the rules itself for the whole crawl
    "normalize_job_rules": ("operators.filters.normalize_job_rules", False),
    "apply_robots": ("operators.robots.apply_robots", True),
    "dedupe_intra_wave": ("operators.dedup.dedupe_intra_wave", True),
    "dedupe_against_seen": ("operators.dedup.dedupe_against_seen", True),
    "build_bloom": ("operators.dedup.build_bloom", False),
    "build_delta_bloom": ("operators.dedup.build_delta_bloom", False),
    "schedule_wave": ("operators.politeness.schedule_wave", True),
    "extract_spans": ("operators.extraction.extract_spans", True),
}


@contextmanager
def crawl_wrappers(tracer):
    def fetch_ok(sp, out, _args, _kwargs):
        sp.attrs["ok_rows"] = out.filter(F.col("http_status") == 200).count()

    commit = CrawlEngine._commit_wave

    def commit_wave(self, wave, metrics):
        commit(self, wave, metrics)
        end = time.time()
        tracer.add_span(WAVE, end - metrics.seconds, end, wave=wave)
        tracer.release()  # wrapper caches of this wave are no longer read

    patches = [(crawl_mod, name, tracer.wrap(span, getattr(crawl_mod, name), materialize=mat))
               for name, (span, mat) in _MODULE_LAYERS.items()]
    patches += [
        (ParquetStateStore, "write", tracer.wrap(
            "sources.state.write", ParquetStateStore.write, materialize=False, after=state_write_stats)),
        (ParquetStateStore, "read", tracer.wrap("sources.state.read", ParquetStateStore.read)),
        (ParquetStateStore, "read_accumulated", tracer.wrap(
            "sources.state.read_accumulated", ParquetStateStore.read_accumulated)),
        (TablePageFetcher, "fetch", tracer.wrap("sources.fetch.fetch", TablePageFetcher.fetch, after=fetch_ok)),
        (CrawlEngine, "_commit_wave", commit_wave),
    ]
    saved = [(owner, name, owner.__dict__[name]) for owner, name, _ in patches]
    try:
        for owner, name, fn in patches:
            setattr(owner, name, fn)
        yield
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)


def run(spark, work, seed: int, seconds: float, tracer=None, n_pages: int = N_PAGES) -> Outcome:
    """Untraced: crawl for ``seconds`` (at least one crawl). Traced: the
    first leg once, then its checkpoint resumed twice, untraced and then
    with layer wrappers (same code, inputs and JVM, both warm)."""
    out = Outcome()
    setups = []
    inputs = None
    for _ in range(SETUP_REPEATS):
        if inputs is not None:
            inputs.release()
        meter = Meter()
        inputs = build_inputs(spark, seed, n_pages)
        setups.append(meter.read())
    out.setup_cpu_s = median([c.cpu_s for c in setups])
    expected = simulate_crawl(inputs.graph, CONFIG, max_waves=CONFIG.max_waves)

    def checked(crawl: Crawl) -> Crawl:
        with tracer.span(AUX) if tracer else nullcontext():
            out.record(check_crawl(spark, crawl, expected))
        return crawl

    def state_dir() -> str:
        return str(work.sub(f"state/crawl-{out.attempted}"))

    if tracer is not None:
        first_dir = state_dir()
        first, first_cost = interrupted(spark, inputs, first_dir)
        traced_dir = shutil.copytree(first_dir, first_dir + "-traced")
        untraced = checked(resumed(spark, inputs, first_dir, first, first_cost))
        with crawl_wrappers(tracer), tracer.span(OP):
            crawl = resumed(spark, inputs, str(traced_dir), first, first_cost, leg=tracer.span)
        checked(crawl)
        out.overhead(untraced.resumes_s, crawl.resumes_s)
        out.layer["plans.crawl.resume_s"] = crawl.resume_s
        inputs.release()
        return out

    crawls = []
    t_end = time.perf_counter() + seconds
    while not crawls or time.perf_counter() < t_end:
        crawl = crawl_once(spark, inputs, state_dir())
        crawls.append(crawl)
        checked(crawl)
    inputs.release()
    n_urls = sum(expected.scheduled_per_wave)
    out.e2e = {
        "op_cpu_s": median([c.cpu_s for c in crawls]),
        "urls_per_cpu_s": median([n_urls / c.cpu_s for c in crawls]),
    }
    waves = [round(w.seconds, 3) for c in crawls for leg in c.legs for w in leg.waves]
    out.notes.append(
        f"{len(crawls)} crawls: CPU {[round(c.cpu_s, 2) for c in crawls]} s, wall "
        f"{[round(c.seconds, 3) for c in crawls]} s (crawl_s median {median([c.seconds for c in crawls]):.3f} s)"
    )
    out.notes.append(
        f"resume_s (bounded one-wave resume, wall): median {median([c.resume_s for c in crawls]):.3f} s"
    )
    out.notes.append(
        f"{n_urls} URLs in {len(expected.scheduled_per_wave)} waves {expected.scheduled_per_wave}; "
        f"waves {waves} s wall; set-ups: CPU {[round(c.cpu_s, 2) for c in setups]} s, "
        f"wall {[round(c.wall_s, 3) for c in setups]} s"
    )
    return out
